"""The timed workloads.

Each workload drives the engine only through its public entry points,
generates its inputs from the seed, warms the JVM up before anything is
timed, and checks every operation's output outside the timed region.
An operation whose check finds any mismatch counts as failed.

Each operation reports its wall time, the items it processed, the bytes
it stores per item and its mismatch count; ``run.py`` turns these into
metrics (README.md gives their meaning per workload).
"""

from __future__ import annotations

import datetime as dt
import time
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

import inputs
from common import dir_bytes, reset_dir

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400, "30d": 30 * 86400}
DENSE_TIERS = ("1h", "1d")  # RollupConfig.smooth_tiers: gap-filled grids

# sized to the run budget (README.md, "Sizing"); 12 hot convs is the
# generator's default 0.1% share, held fixed
ROLLUP_CONVS = 12_000
ROLLUP_HOT_CONVS = 12
ROLLUP_WARM_CONVS = 300
# 1m keeps 7 days: this as_of expires the first ~12 of the 30 days
RETENTION_AS_OF = dt.datetime(2025, 1, 20)

DOC_REPLICAS = 10
# boilerplate flood, 2.9% of the corpus. In every band, the flood's
# bucket must stay past the LSH bucket_cap of 1000 so that the star cap
# fires; 1500 variants keep at least ~1250 in it (20 seeds tried). Below
# the cap a flood pairs as a clique of ~500k candidates, and the chain
# runs for minutes.
DOC_FLOOD = 1500
# the warm-up corpus is one replica with the same flood, so the star-cap
# path is warm too (a flood smaller than the cap would pair as one big
# clique instead)
DOC_WARM_REPLICAS = 1
JACCARD_MIN = 0.8
SHINGLE_K = 5


@dataclass
class OpResult:
    op_s: float
    items: int
    stored_bytes_per_item: float
    mismatches: int
    detail: dict = field(default_factory=dict)
    t_start: float = 0.0  # epoch seconds at the operation's start


def _rows(path: Path) -> int:
    if not path.exists():
        return 0
    return ds.dataset(str(path), partitioning="hive").count_rows()


def _column(path: Path, col: str):
    return ds.dataset(str(path), partitioning="hive").to_table(
        columns=[col]
    ).column(col)


def payload_size(out: Path) -> tuple[int, int]:
    """(payload bytes, encoded points) over every tier's payload sink."""
    n_bytes = n_points = 0
    for t in TIER_SECONDS:
        path = out / f"payload_{t}"
        n_bytes += pc.sum(pc.binary_length(_column(path, "payload"))).as_py()
        n_points += pc.sum(_column(path, "n_points")).as_py()
    return n_bytes, n_points


class RollupBatch:
    """``RollupJob.run`` (default ``RollupConfig``) over a generated
    transcript table (see :func:`inputs.rollup_transcripts`). The
    maintenance pass on its output (``enforce_retention`` at an
    ``as_of`` that expires part of the 1m tier, ``prune_state``,
    ``compact_tier("1m")``) runs in the traced replay only."""

    name = "rollup_batch"

    def __init__(self, spark, work: Path, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.input = work / "in" / "transcripts.parquet"
        self.out = work / "out"

    # -- set-up ------------------------------------------------------------
    def prepare(self) -> None:
        self.input.parent.mkdir(parents=True, exist_ok=True)
        inputs.write_parquet(
            inputs.rollup_transcripts(ROLLUP_CONVS, ROLLUP_HOT_CONVS,
                                      self.seed),
            str(self.input), inputs.TRANSCRIPT_SCHEMA,
        )

    def warm_up(self) -> None:
        warm = self.work / "in" / "warm.parquet"
        inputs.write_parquet(
            inputs.rollup_transcripts(ROLLUP_WARM_CONVS, 2, self.seed),
            str(warm), inputs.TRANSCRIPT_SCHEMA,
        )
        self._run(warm, self.work / "warm_out", "warm")
        self.spark.catalog.clearCache()

    def expected(self) -> None:
        """Per-tier point counts and ``sum(n_turns)`` from DuckDB over the
        generated table (exact duplicate turns removed, dense 1h/1d
        grids spanning each conversation's first..last bucket)."""
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d AS SELECT DISTINCT conv_id, turn_idx, "
            "epoch_us(ts) AS us FROM read_parquet(?)",
            [str(self.input)],
        )
        self.want: dict[str, tuple[int, int]] = {}
        for tier, n in TIER_SECONDS.items():
            per_conv = con.execute(
                f"""SELECT sum(nb), sum(span), sum(t) FROM (
                      SELECT conv_id, count(*) AS nb, sum(c) AS t,
                             max(b) - min(b) + 1 AS span
                      FROM (SELECT conv_id, us // {n * 1_000_000} AS b,
                                   count(*) AS c
                            FROM d GROUP BY 1, 2)
                      GROUP BY conv_id)"""
            ).fetchone()
            points = per_conv[1] if tier in DENSE_TIERS else per_conv[0]
            self.want[tier] = (int(points), int(per_conv[2]))
        con.close()

    # -- one operation -------------------------------------------------------
    def _run(self, input_path: Path, out: Path, job_id: str) -> None:
        from ecov003_l2t_stars_spark.plans.pipeline import (
            RollupConfig,
            RollupJob,
        )

        reset_dir(out)
        RollupJob(
            self.spark,
            RollupConfig(
                input_path=str(input_path), output_dir=str(out), job_id=job_id
            ),
        ).run()

    def op(self, i: int) -> OpResult:
        self.spark.catalog.clearCache()
        t_start = time.time()
        t0 = time.perf_counter()
        self._run(self.input, self.out, f"bench{i}")
        op_s = time.perf_counter() - t0

        mismatches, points = self.check_rollup(self.out)
        payload_bytes, encoded = payload_size(self.out)

        return OpResult(
            op_s, sum(points.values()), payload_bytes / encoded, mismatches,
            {"points": points}, t_start,
        )

    # -- checks --------------------------------------------------------------
    def check_rollup(self, out: Path) -> tuple[int, dict[str, int]]:
        """Mismatches of a ``RollupJob`` output in ``out`` (tiers and the
        1h payload), and each tier's point count."""
        points = {t: _rows(out / f"rollup_{t}") for t in TIER_SECONDS}
        return self.check_tiers(out, points) + self.check_payload(
            out, "1h"), points

    def check_tiers(self, out: Path, points: dict[str, int]) -> int:
        bad = 0
        for tier, (want_points, want_turns) in self.want.items():
            got_turns = pc.sum(
                _column(out / f"rollup_{tier}", "n_turns")
            ).as_py()
            bad += int(points[tier] != want_points)
            bad += int(got_turns != want_turns)
        return bad

    def check_payload(self, out: Path, tier: str) -> int:
        """Decoded payload points must equal the tier's observed
        ``latency_sum`` values, key for key (full outer join)."""
        from pyspark.sql import functions as F

        from ecov003_l2t_stars_spark.operators.payload import decode_payloads

        spark = self.spark
        dec = decode_payloads(
            spark.read.parquet(str(out / f"payload_{tier}"))
        ).select("conv_id", "bucket_start", "value", F.lit(1).alias("_d"))
        obs = (
            spark.read.parquet(str(out / f"rollup_{tier}"))
            .where(~F.col("gap_filled"))
            .select("conv_id", "bucket_start", "latency_sum",
                    F.lit(1).alias("_o"))
        )
        same = (F.col("value") == F.col("latency_sum")) | (
            (F.col("value").isNull() | F.isnan("value"))
            & F.col("latency_sum").isNull()
        )
        return (
            dec.join(obs, ["conv_id", "bucket_start"], "full_outer")
            .where(F.col("_d").isNull() | F.col("_o").isNull() | ~same)
            .count()
        )

    def check_retention(self, out: Path, rows_before: int,
                        dropped: int) -> int:
        cutoff = np.datetime64(RETENTION_AS_OF - dt.timedelta(days=7), "us")
        path = out / "rollup_1m"
        ends = _column(path, "bucket_end").to_numpy()
        expired = int((ends.astype("datetime64[us]") <= cutoff).sum())
        return int(expired != 0) + int(len(ends) != rows_before - dropped)


def _shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    return {text[i:i + k] for i in range(max(len(text) - (k - 1), 1))}


class NeardupCurate:
    """``exact_dedup`` → ``minhash_lsh_dedup`` (with ``cap_observation``)
    → ``dedup_corpus``: the verified pairs and the curated corpus are
    both written to parquet sinks."""

    name = "neardup_curate"

    def __init__(self, spark, work: Path, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.input = work / "in" / "documents.parquet"
        self.out = work / "out"

    def prepare(self) -> None:
        self.input.parent.mkdir(parents=True, exist_ok=True)
        self.base = inputs.base_documents()
        self.docs = inputs.documents(self.base, DOC_REPLICAS, self.seed,
                                     DOC_FLOOD)
        inputs.write_parquet(self.docs, str(self.input), inputs.DOC_SCHEMA)

    def warm_up(self) -> None:
        warm = self.work / "in" / "warm.parquet"
        inputs.write_parquet(
            inputs.documents(self.base, DOC_WARM_REPLICAS, self.seed,
                             DOC_FLOOD),
            str(warm),
            inputs.DOC_SCHEMA,
        )
        self._curate(warm, self.work / "warm_out")
        self.spark.catalog.clearCache()

    def expected(self) -> None:
        self.texts = dict(zip(self.docs["doc_id"], self.docs["text"]))
        self.n_unique = int(self.docs["text"].nunique())

    def _curate(self, input_path: Path, out: Path) -> int:
        from pyspark.sql import Observation

        from ecov003_l2t_stars_spark.operators.dedup import (
            dedup_corpus,
            exact_dedup,
            minhash_lsh_dedup,
        )

        spark = self.spark
        reset_dir(out)
        docs = spark.read.parquet(str(input_path))
        # shared by the signature kernel, the verify lookup and the final
        # anti-join: materialized once, as the curation query does
        uniq = exact_dedup(docs, ["text"]).localCheckpoint(eager=False)
        obs = Observation("cap")
        minhash_lsh_dedup(uniq, cap_observation=obs).write.parquet(
            str(out / "pairs")
        )
        pairs = spark.read.parquet(str(out / "pairs"))
        dedup_corpus(uniq, pairs).write.parquet(str(out / "curated"))
        return int(obs.get["cap_star_rows"])

    def op(self, i: int) -> OpResult:
        self.spark.catalog.clearCache()
        t_start = time.time()
        t0 = time.perf_counter()
        cap_rows = self._curate(self.input, self.out)
        op_s = time.perf_counter() - t0

        mismatches, n_pairs, n_kept = self.check(self.out)
        curated_bytes, _ = dir_bytes(self.out / "curated")
        return OpResult(
            op_s, len(self.docs), curated_bytes / max(n_kept, 1),
            mismatches,
            {"pairs": n_pairs, "kept": n_kept, "cap_star_rows": cap_rows},
            t_start,
        )

    def check(self, out: Path) -> tuple[int, int, int]:
        """Checks the pairs and curated sinks in ``out``: every verified
        pair has exact Jaccard >= 0.8 (recomputed here) and the engine's
        value; the curated corpus holds exactly one doc per connected
        component of the pair graph plus every unpaired unique text, and
        no pair has both ends in it. Returns (mismatches, pairs, kept)."""
        pairs = ds.dataset(str(out / "pairs")).to_table().to_pandas()
        kept = set(
            ds.dataset(str(out / "curated")).to_table(columns=["doc_id"])
            .column("doc_id").to_pylist()
        )
        bad = 0
        cache: dict[int, set[str]] = {}

        def sh(d: int) -> set[str]:
            if d not in cache:
                cache[d] = _shingles(self.texts[d])
            return cache[d]

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, j in zip(pairs["doc_a"], pairs["doc_b"], pairs["jaccard"]):
            sa, sb = sh(int(a)), sh(int(b))
            exact = len(sa & sb) / len(sa | sb)
            bad += int(exact < JACCARD_MIN or abs(exact - j) > 1e-12)
            bad += int(a in kept and b in kept)
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        members = len(parent)
        components = len({find(x) for x in parent})
        want_kept = self.n_unique - members + components
        bad += int(len(kept) != want_kept)
        return bad, len(pairs), len(kept)


WORKLOADS = {w.name: w for w in (RollupBatch, NeardupCurate)}
