"""Per-layer trace (``--trace 1``).

After the same set-up and warm-up as the timed run, one untraced
operation runs first (``op.*``). Then the operation is replayed step by
step: each step is one call into a layer's public functions whose output
is materialised (persisted and counted, or written) before the next
step, inside a span. A span records (name, start, end, parent, run id),
sets the Spark job description to its name on the calling thread for
its duration and restores the parent's on exit. Spans stay in memory
and are written to ``.perfbench_out/`` at the end.

After the session stops, the session's own event log (uncompressed, in
the run's work directory) is folded by job description into per-span
task CPU, GC, input, shuffle-write and spill figures, and the tasks that
ran inside the untraced operation's window give its core occupancy.

The ``rollup_batch`` trace also replays the maintenance pass on the
replayed output, and a late-data refresh (``IncrementalRollup``) on a
small store built from the same seed, so the ``retention`` and
``late_data`` layers and the table-format MERGE are traced there.
Every per-layer metric is reported for every workload; a layer the
workload bypasses reads 0.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
from collections import defaultdict
from pathlib import Path

from common import ROOT, cpu_count, dir_bytes, reset_dir

TIERS = ("1m", "1h", "1d", "30d")
DENSE = ("1h", "1d")
LATE_TIERS = ("1m", "1h")
LATE_CONVS = 600
LATE_FRAC = 0.02
LATE_CONVS_PER_BATCH = 18
LATE_TRACE_BATCHES = 2
AS_OF_DEFAULT = dt.datetime(2100, 1, 1)  # RollupJob's as_of when unset

# event-log figures folded per span group (the groups an optimisation
# is most likely to move)
TASK_FIELDS = ("task_cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes",
               "spill_bytes")
TASK_GROUPS = (
    "rollup.tier_build", "gapfill", "smooth", "payload.encode",
    "table_format.write", "retention", "late_data.recompute",
    "table_format.merge", "dedup.signatures", "dedup.lsh_pairs",
    "dedup.clusters",
)


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    u: dict[str, str] = {"rollup.normalize_s": "s"}
    for t in TIERS:
        u[f"rollup.tier_build_s.{t}"] = "s"
        u[f"rollup.points.{t}"] = "count"
    for t in DENSE:
        u[f"gapfill.s.{t}"] = "s"
        u[f"gapfill.grid_rows.{t}"] = "count"
        u[f"gapfill.observed_frac.{t}"] = "ratio"
        u[f"smooth.s.{t}"] = "s"
        u[f"smooth.series.{t}"] = "count"
    for t in TIERS:
        u[f"payload.encode_s.{t}"] = "s"
        u[f"payload.segments.{t}"] = "count"
        u[f"payload.points_per_segment.{t}"] = "point/segment"
        u[f"payload.bytes_per_point.{t}"] = "B/point"
    u.update({
        "table_format.write_s": "s",
        "table_format.bytes_written": "B",
        "table_format.files_written": "count",
        "table_format.merge_s.1m": "s",
        "table_format.merge_s.1h": "s",
        "table_format.partitions_touched_frac": "ratio",
        "table_format.merge_bytes_rewritten": "B",
        "table_format.files_per_partition": "count",
        "late_data.ingest_s": "s",
        "late_data.recompute_s": "s",
        "late_data.read_s": "s",
        "late_data.raw_bytes_read": "B",
        "late_data.raw_read_per_batch_byte": "ratio",
        "retention.enforce_s": "s",
        "retention.rows_dropped": "count",
        "retention.prune_s": "s",
        "retention.compact_s": "s",
        "retention.bytes_rewritten": "B",
        "op.run_s": "s",
        "op.core_busy_frac": "ratio",
        "op.idle_s": "s",
        "op.overlap_s": "s",
        "dedup.exact_s": "s",
        "dedup.signatures_s": "s",
        "dedup.banded_rows": "count",
        "dedup.lsh_pairs_s": "s",
        "dedup.pairs": "count",
        "dedup.cap_star_rows": "count",
        "dedup.clusters_s": "s",
        "dedup.corpus_s": "s",
        "mem.driver_peak_mb": "MB",
        "mem.workers_peak_mb": "MB",
        "mem.workers_peak": "count",
        "trace.replay_s": "s",
        "trace.overhead_s": "s",
        "trace.attributed_frac": "ratio",
    })
    for g in TASK_GROUPS:
        for f in TASK_FIELDS:
            u[f"{g}.{f}"] = "B" if f.endswith("bytes") else "s"
    return u


UNITS = metric_units()


def unit(name: str) -> str:
    return UNITS[name]


class Tracer:
    """In-memory spans; each sets (and on exit restores) the Spark job
    description of the calling thread, so the event log can be folded
    by span."""

    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobDescription(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            # restore the parent's description; None clears it, so a
            # later job on this thread is never attributed to this span
            self.sc.setJobDescription(parent)
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id})

    def top_level_s(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] is None)


def _files(path: Path) -> dict[str, tuple[int, int]]:
    return {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in path.rglob("*.parquet")
    } if path.exists() else {}


def _new_bytes(before: dict, after: dict) -> int:
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


# -- rollup_batch -------------------------------------------------------------
def replay_rollup(wl, tr: Tracer, m: dict, out: Path) -> None:
    """The steps ``RollupJob.run`` composes (default ``RollupConfig``),
    sequentially, each materialised."""
    from pyspark.sql import functions as F

    from ecov003_l2t_stars_spark.operators.gapfill import gap_fill
    from ecov003_l2t_stars_spark.operators.payload import encode_payloads
    from ecov003_l2t_stars_spark.operators.rollup import (
        cascade_with_digest,
        normalize,
        rollup_tier_with_digest,
        with_latency,
    )
    from ecov003_l2t_stars_spark.operators.smooth import (
        posterior_state,
        smooth_tier,
    )
    from ecov003_l2t_stars_spark.plans.pipeline import RollupConfig
    from ecov003_l2t_stars_spark.plans.table_format import ParquetFormat

    spark = wl.spark
    reset_dir(out)
    cfg = RollupConfig(input_path=str(wl.input), output_dir=str(out))
    fmt = ParquetFormat()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def bucket():
        return F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)).cast("int")

    persisted = []

    def keep(df):
        persisted.append(df.persist())
        return persisted[-1]

    with tr.span("rollup.normalize"):
        n_part = max(cfg.n_buckets,
                     int(spark.conf.get("spark.sql.shuffle.partitions")))
        lat = keep(with_latency(normalize(
            spark.read.parquet(cfg.input_path)
            .select("conv_id", "turn_idx", "role", "ts")
            .withColumn("conv_bucket", bucket())
            .repartition(n_part, "conv_id")
        )))
        lat.count()
    with tr.span("pipeline.stats"):
        lat.groupBy("conv_bucket").agg(F.count(F.lit(1))).collect()

    prev = None
    for tier in cfg.tiers:
        with tr.span(f"rollup.tier_build.{tier}"):
            full = keep(
                cascade_with_digest(prev, tier) if prev is not None
                else rollup_tier_with_digest(lat.drop("conv_bucket"), tier)
            )
            n_obs = full.count()
        prev = full
        tier_df = full.drop("lat_digest")
        out_df = tier_df
        m[f"rollup.points.{tier}"] = n_obs
        if tier in cfg.smooth_tiers:
            with tr.span(f"gapfill.{tier}"):
                filled = keep(gap_fill(tier_df, tier, value_cols=cfg.fill_cols,
                                       method=cfg.fill_method))
                grid = filled.count()
            with tr.span(f"smooth.{tier}"):
                out_df = keep(smooth_tier(filled, tier, params=cfg.kalman))
                series = out_df.select("conv_id").distinct().count()
            m[f"rollup.points.{tier}"] = grid
            m[f"gapfill.grid_rows.{tier}"] = grid
            m[f"gapfill.observed_frac.{tier}"] = n_obs / grid
            m[f"smooth.series.{tier}"] = series
        with tr.span(f"payload.encode.{tier}"):
            segs = keep(encode_payloads(tier_df, tier, cfg.payload_col))
            agg = segs.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_points").alias("pts"),
                F.sum(F.length("payload")).alias("b"),
            ).first()
        m[f"payload.segments.{tier}"] = agg["n"]
        m[f"payload.points_per_segment.{tier}"] = agg["pts"] / agg["n"]
        m[f"payload.bytes_per_point.{tier}"] = agg["b"] / agg["pts"]
        with tr.span(f"table_format.write.{tier}"):
            fmt.overwrite_partitions(
                out_df.withColumn("conv_bucket", bucket()),
                str(out / f"rollup_{tier}"), partition_col="conv_bucket",
                sort_cols=("conv_id", "bucket_start"),
            )
            fmt.overwrite_partitions(
                segs.withColumn("conv_bucket", bucket()),
                str(out / f"payload_{tier}"), partition_col="conv_bucket",
            )
            if tier in cfg.smooth_tiers:
                fmt.append(posterior_state(out_df, tier, AS_OF_DEFAULT),
                           str(out / "rollup_state"))
    for df in persisted:
        df.unpersist()

    written = [dir_bytes(p) for p in out.iterdir()]
    m["table_format.bytes_written"] = sum(b for b, _ in written)
    m["table_format.files_written"] = sum(f for _, f in written)


def replay_maintenance(wl, tr: Tracer, m: dict, out: Path) -> dict:
    from ecov003_l2t_stars_spark.plans.retention import (
        compact_tier,
        enforce_retention,
        prune_state,
    )
    from workloads import RETENTION_AS_OF

    before = _files(out)
    with tr.span("retention.enforce"):
        dropped = enforce_retention(wl.spark, str(out), RETENTION_AS_OF)
    with tr.span("retention.prune"):
        prune_state(wl.spark, str(out))
    with tr.span("retention.compact"):
        compact_tier(wl.spark, str(out), "1m")
    m["retention.rows_dropped"] = sum(dropped.values())
    m["retention.bytes_rewritten"] = _new_bytes(before, _files(out))
    return dropped


def prepare_late(wl, work: Path) -> list[Path]:
    """A small table from the same seed with ~2% of its rows held back
    in batches of 18 conversations; returns [base, first batches...]."""
    import inputs

    d = reset_dir(work / "late")
    base, batches = inputs.late_split(
        inputs.transcripts(LATE_CONVS, wl.seed), wl.seed, LATE_FRAC,
        LATE_CONVS_PER_BATCH,
    )
    files = [d / "base.parquet"]
    inputs.write_parquet(base, str(files[0]), inputs.TRANSCRIPT_SCHEMA)
    for i, b in enumerate(batches[:LATE_TRACE_BATCHES]):
        files.append(d / f"late_{i}.parquet")
        inputs.write_parquet(b, str(files[-1]), inputs.TRANSCRIPT_SCHEMA)
    return files


def replay_late(wl, tr: Tracer, m: dict, files: list[Path]):
    """Late-data refresh: the base rows through
    ``IncrementalRollup.update``, then each late batch replayed through
    the steps ``refresh`` composes, each followed by a full read of the
    1h tier. Returns the store for :func:`check_late`."""
    from pyspark.sql import functions as F

    from ecov003_l2t_stars_spark.operators.rollup import (
        normalize,
        rollup_tier,
        with_latency,
    )
    from ecov003_l2t_stars_spark.plans.late_data import IncrementalRollup
    from ecov003_l2t_stars_spark.plans.table_format import ParquetFormat

    spark = wl.spark
    store = files[0].parent / "store"
    inc = IncrementalRollup(spark, str(store), tiers=LATE_TIERS)
    fmt = ParquetFormat()
    with tr.span("late_data.base_build"):
        inc.update(spark.read.parquet(str(files[0])))
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(inc.n_buckets)).cast("int")

    touched = present = rewritten = 0
    batch_bytes = 0
    for p in files[1:]:
        batch_bytes += p.stat().st_size
        batch = spark.read.parquet(str(p))
        with tr.span("late_data.ingest"):
            inc.ingest(batch)
        with tr.span("late_data.recompute"):
            convs = batch.select("conv_id").distinct()
            affected = fmt.read(spark, inc.raw_dir).join(
                F.broadcast(convs), "conv_id", "left_semi"
            ).repartition(inc.n_buckets, "conv_id")
            lat = with_latency(normalize(affected)).persist()
            tier_dfs = {}
            for t in LATE_TIERS:
                tier_dfs[t] = rollup_tier(lat, t).withColumn(
                    "conv_bucket", bucket).persist()
                tier_dfs[t].count()
        for t in LATE_TIERS:
            path = store / f"rollup_{t}"
            before = _files(path)
            with tr.span(f"table_format.merge.{t}"):
                fmt.merge_replace_keys(
                    spark, str(path), tier_dfs[t], convs, key_col="conv_id",
                    partition_col="conv_bucket",
                    sort_cols=("conv_id", "bucket_start"),
                )
            after = _files(path)
            parts = {Path(f).parent for f in after}
            changed = {Path(f).parent for f in after
                       if before.get(f) != after[f]}
            touched += len(changed)
            present += len(parts)
            rewritten += _new_bytes(before, after)
            tier_dfs[t].unpersist()
        lat.unpersist()
        with tr.span("late_data.read"):
            inc.read_tier("1h").write.format("noop").mode("overwrite").save()

    m["table_format.partitions_touched_frac"] = touched / max(present, 1)
    m["table_format.merge_bytes_rewritten"] = rewritten
    files_1h = _files(store / "rollup_1h")
    m["table_format.files_per_partition"] = len(files_1h) / max(
        len({Path(f).parent for f in files_1h}), 1)
    m["_late_batch_bytes"] = batch_bytes
    return inc


def check_late(spark, inc, files: list[Path]) -> int:
    """Mismatching rows between each refreshed tier and a from-scratch
    rollup of base ∪ replayed late rows (row hashes, anti-joined both
    ways; no exceptAll)."""
    from pyspark.sql import functions as F

    from ecov003_l2t_stars_spark.operators.rollup import (
        normalize,
        rollup_tier,
        with_latency,
    )

    lat = with_latency(normalize(spark.read.parquet(*map(str, files))))
    bad = 0
    for t in LATE_TIERS:
        want = rollup_tier(lat, t)
        got = inc.read_tier(t).select(*want.columns)
        wh = want.select("conv_id", F.xxhash64(*want.columns).alias("_h"))
        gh = got.select("conv_id", F.xxhash64(*want.columns).alias("_h"))
        bad += wh.join(gh, ["conv_id", "_h"], "left_anti").count()
        bad += gh.join(wh, ["conv_id", "_h"], "left_anti").count()
        bad += abs(want.count() - got.count())
    return bad


# -- neardup_curate -----------------------------------------------------------
def replay_neardup(wl, tr: Tracer, m: dict, out: Path) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ecov003_l2t_stars_spark.operators.dedup import (
        dedup_corpus,
        dup_clusters,
        exact_dedup,
        minhash_banded,
        minhash_lsh_dedup,
        minhash_signatures,
    )

    spark = wl.spark
    reset_dir(out)
    docs = spark.read.parquet(str(wl.input))
    with tr.span("dedup.exact"):
        uniq = exact_dedup(docs, ["text"]).persist()
        uniq.count()
    with tr.span("dedup.signatures"):
        sigs = minhash_signatures(uniq).where(
            F.col("_sig").isNotNull()).persist()
        sigs.count()
    with tr.span("dedup.banded"):
        m["dedup.banded_rows"] = minhash_banded(sigs, 64, 16).count()
    with tr.span("dedup.lsh_pairs"):
        # written to the pairs sink and read back, as the operation does
        obs = Observation("cap")
        minhash_lsh_dedup(uniq, cap_observation=obs).write.parquet(
            str(out / "pairs"))
        m["dedup.cap_star_rows"] = obs.get["cap_star_rows"]
        pairs = spark.read.parquet(str(out / "pairs")).persist()
        m["dedup.pairs"] = pairs.count()
    with tr.span("dedup.clusters"):
        dup_clusters(pairs).count()
    with tr.span("dedup.corpus"):
        dedup_corpus(uniq, pairs).write.parquet(str(out / "curated"))
    for df in (uniq, sigs, pairs):
        df.unpersist()


# -- entry points -------------------------------------------------------------
def run(wl, args, work: Path) -> tuple[dict, int, int]:
    """Set-up and warm-up as in the timed run, one untraced operation,
    then the traced replay. The replay's outputs get the operation's own
    checks (outside the spans and left out of ``trace.replay_s``); each
    replayed operation with a mismatch counts as failed. Returns (raw
    metrics, attempted, failed)."""
    wl.prepare()
    wl.warm_up()
    wl.expected()
    r = wl.op(0)
    attempted, failed = 1, int(r.mismatches > 0)
    m: dict = {"_op_window": (r.t_start, r.t_start + r.op_s)}
    m["op.run_s"] = r.op_s

    if wl.name == "rollup_batch":
        late_files = prepare_late(wl, work)
    tr = Tracer(wl.spark.sparkContext, f"{wl.name}-{args.seed}")
    out = work / "replay"
    check_s = 0.0

    def check(fn, *a):
        nonlocal check_s
        c0 = time.time()
        try:
            return fn(*a)
        finally:
            check_s += time.time() - c0

    t0 = time.time()
    if wl.name == "rollup_batch":
        replay_rollup(wl, tr, m, out)
        op_replay_s = time.time() - t0
        bad, points = check(wl.check_rollup, out)
        dropped = replay_maintenance(wl, tr, m, out)
        bad += check(wl.check_retention, out, points["1m"], dropped["1m"])
        inc = replay_late(wl, tr, m, late_files)
    else:
        replay_neardup(wl, tr, m, out)
        op_replay_s = time.time() - t0
    replay_s = time.time() - t0 - check_s
    wl.spark.sparkContext.setJobDescription(None)
    if wl.name == "rollup_batch":
        attempted += 2
        failed += int(bad > 0)
        failed += int(check_late(wl.spark, inc, late_files) > 0)
    else:
        attempted += 1
        failed += int(wl.check(out)[0] > 0)

    m["trace.replay_s"] = replay_s
    m["trace.overhead_s"] = op_replay_s - r.op_s
    m["op.overlap_s"] = sum(
        s["end"] - s["start"] for s in tr.spans
        if s["parent"] is None and s["start"] < t0 + op_replay_s
    ) - r.op_s
    m["trace.attributed_frac"] = tr.top_level_s() / replay_s
    m["_spans"] = tr.spans
    return m, attempted, failed


def _fold_event_log(log_dir: Path) -> tuple[dict, list]:
    """Per job-description task figures, plus every task's
    (launch, finish) in epoch ms."""
    stage_desc: dict[int, str | None] = {}
    per: dict[str | None, dict] = defaultdict(lambda: defaultdict(float))
    tasks: list[tuple[int, int]] = []
    for f in sorted(log_dir.rglob("events_*")):
        with open(f) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line[:60]:
                    e = json.loads(line)
                    desc = (e.get("Properties") or {}).get(
                        "spark.job.description")
                    for s in e["Stage IDs"]:
                        stage_desc[s] = desc
                elif '"SparkListenerTaskEnd"' in line[:60]:
                    e = json.loads(line)
                    info, tm = e["Task Info"], e.get("Task Metrics") or {}
                    tasks.append((info["Launch Time"], info["Finish Time"]))
                    acc = per[stage_desc.get(e["Stage ID"])]
                    acc["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    acc["input_bytes"] += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    acc["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += tm.get(
                        "Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
    return per, tasks


def _busy(tasks: list, lo: float, hi: float) -> tuple[float, float]:
    """(task seconds, seconds with no task running) inside [lo, hi]
    (epoch seconds)."""
    spans = sorted(
        (max(a / 1e3, lo), min(b / 1e3, hi)) for a, b in tasks
        if b / 1e3 > lo and a / 1e3 < hi
    )
    busy = sum(b - a for a, b in spans)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return busy, (hi - lo) - covered


def finish(m: dict, log_dir: Path) -> dict:
    """Fold the event log (after the session stopped) into the raw trace
    figures; returns every per-layer metric, zeros for bypassed layers."""
    spans = m.pop("_spans")
    lo, hi = m.pop("_op_window")
    batch_bytes = m.pop("_late_batch_bytes", 0)
    per, tasks = _fold_event_log(log_dir)

    busy, idle = _busy(tasks, lo, hi)
    m["op.core_busy_frac"] = busy / ((hi - lo) * cpu_count())
    m["op.idle_s"] = idle

    def secs(prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == prefix or s["name"].startswith(prefix + "."))

    m["rollup.normalize_s"] = secs("rollup.normalize")
    for t in TIERS:
        m[f"rollup.tier_build_s.{t}"] = secs(f"rollup.tier_build.{t}")
        m[f"payload.encode_s.{t}"] = secs(f"payload.encode.{t}")
    for t in DENSE:
        m[f"gapfill.s.{t}"] = secs(f"gapfill.{t}")
        m[f"smooth.s.{t}"] = secs(f"smooth.{t}")
    m["table_format.write_s"] = secs("table_format.write")
    for t in LATE_TIERS:
        m[f"table_format.merge_s.{t}"] = secs(f"table_format.merge.{t}")
    m["late_data.ingest_s"] = secs("late_data.ingest")
    m["late_data.recompute_s"] = secs("late_data.recompute")
    m["late_data.read_s"] = secs("late_data.read")
    for name in ("enforce", "prune", "compact"):
        m[f"retention.{name}_s"] = secs(f"retention.{name}")
    for name in ("exact", "signatures", "lsh_pairs", "clusters", "corpus"):
        m[f"dedup.{name}_s"] = secs(f"dedup.{name}")

    for g in TASK_GROUPS:
        for f in TASK_FIELDS:
            m[f"{g}.{f}"] = sum(
                acc[f] for desc, acc in per.items()
                if desc and (desc == g or desc.startswith(g + "."))
            )
    raw = m["late_data.recompute.input_bytes"]
    m["late_data.raw_bytes_read"] = raw
    m["late_data.raw_read_per_batch_byte"] = raw / batch_bytes if (
        batch_bytes) else 0

    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    with open(out_dir / f"spans-{spans[0]['run_id']}.jsonl", "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    return {k: float(m.get(k, 0.0)) for k in UNITS}
