"""Scaling-efficiency evidence: same job at local[N] and local[4N].

BASELINE.json's two-cluster-size criterion cannot use a real cluster in
this sandbox, so the same rollup workload runs at two parallelism levels
on identical input (driver guidance), each pinned to exactly its core
budget with ``taskset`` (local[N] alone only caps task slots — JVM
GC/netty threads and Python workers would silently borrow the other
cores and poison the ratio) and one BLAS thread per worker (reference
parity: ``process_ECOSTRESS_data_fusion_distributed_bias.jl:38-40``).

The measured job is the engine's compute pipeline as ONE Spark action —
normalize → latency → the 1m tier rollup cascaded by digest merge to
1h/1d/30d → gap-fill → Kalman smooth, unioned into a noop sink.
Parquet-commit serialization is storage-side (parallel on a real object
store) and excluded; the checkpointed writing job is benchmarked
separately by ``bench.py``.

Writes BENCH_SCALING.md and prints one JSON line.

Usage: python scripts/bench_scaling.py [N] [input_parquet]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from ecov003_l2t_stars_spark.session import get_spark
from ecov003_l2t_stars_spark.operators.rollup import (
    cascade_with_digest, normalize, rollup_tier_with_digest, with_latency)
from ecov003_l2t_stars_spark.operators.gapfill import gap_fill
from ecov003_l2t_stars_spark.operators.smooth import smooth_tier
from pyspark.sql import functions as F

master = sys.argv[1]
inp = sys.argv[2]
cores = int(master.split("[")[1].rstrip("]"))
spark = get_spark(app_name=f"scaling-{{cores}}", master=master,
                  shuffle_partitions=cores * 4,
                  extra_conf={{
                      "spark.ui.showConsoleProgress": "false",
                      "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
                  }})
spark.sparkContext.setLogLevel("ERROR")

raw = spark.read.parquet(inp)
n_turns = raw.count()  # warm the OS page cache identically at both levels

common = ["conv_id", "tier", "bucket_start", "n_turns",
          "latency_p50", "latency_sum", "n_latency"]

# Mirror the production pipeline (plans/pipeline.py): the shared
# normalized + latency-annotated lineage is persisted ONCE and every
# tier branch reads the cached partitions, instead of re-running
# scan -> shuffle -> window-sort per branch. Caching defeats Catalyst
# column pruning, so prune to the columns the rollup branches consume
# BEFORE persisting (text never enters the cache).
lat_cached = (
    with_latency(normalize(raw.repartition(cores * 4, "conv_id")))
    .select("conv_id", "turn_idx", "ts", "role", "latency_s")
    .persist()
)

def build(lat):
    # the production tier chain: 1m from raw, each coarser tier merged
    # from the previous tier's sorted latency digests
    outs = []
    tiers = {{}}
    prev = None
    for tier in ("1m", "1h", "1d", "30d"):
        prev = (rollup_tier_with_digest(lat, tier) if prev is None
                else cascade_with_digest(prev, tier))
        tiers[tier] = prev.drop("lat_digest")
        outs.append(prev.select(*common))
    sm = smooth_tier(
        gap_fill(tiers["1h"], "1h", value_cols=("latency_p50",),
                 method="locf"),
        "1h", n_groups=cores * 4)
    outs.append(sm.select(*[
        F.col(c) if c in sm.columns else F.lit(None).alias(c) for c in common
    ]))
    final = outs[0]
    for o in outs[1:]:
        final = final.unionByName(o)
    return final

# Untimed JIT warmup (CLAUDE.md rule 15 / bench.py practice): each leg
# is a fresh JVM, so the first action pays tens of seconds of HotSpot
# compile that would otherwise land inside the timed region and
# penalize the fast legs disproportionately. Run the full operator
# chain on a 100k-turn prefix through a SEPARATE unpersisted lineage
# (same generated code paths, no cache pollution of lat_cached).
warm = with_latency(normalize(raw.limit(100_000)
                              .repartition(cores * 4, "conv_id"))) \
    .select("conv_id", "turn_idx", "ts", "role", "latency_s")
build(warm).write.format("noop").mode("overwrite").save()

t0 = time.perf_counter()
build(lat_cached).write.format("noop").mode("overwrite").save()
dt = time.perf_counter() - t0
# The output cardinality is a constant of the input table; the first
# leg of a series verifies it, later legs reuse it (SCALING_POINTS)
# instead of re-running the whole pipeline untimed.
known = os.environ.get("SCALING_POINTS")
# the cached cardinality is only valid for the SAME input table —
# a mismatched scope falls back to recounting (r5 ADVICE)
if os.environ.get("SCALING_POINTS_FOR") != inp:
    known = None
points = int(known) if known else build(lat_cached).count()
lat_cached.unpersist()
print(json.dumps({{"master": master, "seconds": round(dt, 2),
                  "turns": n_turns, "points": points,
                  "points_per_sec": round(points / dt, 1),
                  "turns_per_sec": round(n_turns / dt, 1)}}))
spark.stop()
"""


def run_level(master: str, inp: str, points: int | None = None) -> dict:
    script = WORKER.format(repo=str(REPO))
    cores = int(master.split("[")[1].rstrip("]"))
    cmd = ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c",
           script, master, inp]
    env = dict(os.environ,
               OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
               MKL_NUM_THREADS="1")
    if points is not None:
        # output cardinality already verified by an earlier leg on the
        # same input — skip the untimed re-count (see WORKER); scoped
        # to the input path so a stale value can never cross tables
        env["SCALING_POINTS"] = str(points)
        env["SCALING_POINTS_FOR"] = inp
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=3600, env=env,
    )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no result from {master}:\n{out.stderr[-3000:]}")


def run_series(levels: list[int], reps: int, inp: str) -> None:
    """Interleaved multi-rep series: one JSON line per leg to stdout.

    Rep order alternates ascending/descending core counts so ambient
    drift (thermal, page cache) cannot systematically favor one level —
    the same honesty rule the round-3/4 series used. The first leg
    verifies the pipeline's output cardinality; later legs reuse it.
    """
    points: int | None = None
    for rep in range(reps):
        order = levels if rep % 2 == 0 else list(reversed(levels))
        for n in order:
            res = run_level(f"local[{n}]", inp, points)
            points = res["points"]
            res["level"] = n
            res["rep"] = rep
            print(json.dumps(res), flush=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--series":
        levels = [int(x) for x in sys.argv[2].split(",")]
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
        inp = (
            sys.argv[4]
            if len(sys.argv) > 4
            else str(REPO / ".bench_cache" / "transcripts_scaling_xxl.parquet")
        )
        run_series(levels, reps, inp)
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    inp = (
        sys.argv[2]
        if len(sys.argv) > 2
        else str(REPO / ".bench_cache" / "transcripts_scaling_xl.parquet")
    )
    small = run_level(f"local[{n}]", inp)
    large = run_level(f"local[{n * 4}]", inp)
    speedup = large["points_per_sec"] / small["points_per_sec"]
    eff = speedup / 4
    result = {
        "n_cores": n,
        "n4_cores": n * 4,
        "small": small,
        "large": large,
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
    }
    print(json.dumps(result))

    md = f"""# BENCH_SCALING — two-parallelism-level evidence

Per BASELINE.json's north rule ("throughput scaling efficiency >=0.8
from N to 4N executors"), evidenced by running the identical engine
compute pipeline (normalize -> stable-order latency -> 1m tier rollup
cascaded by digest merge to 1h/1d/30d -> gap-fill -> Kalman smooth, one
Spark action into a noop sink)
on the same {small['turns']:,}-turn seed-42 transcript table at two
CPU-pinned parallelism levels (taskset; no real cluster in this
sandbox). BLAS pinned to 1 thread/worker like the reference
(fusion jl:38-40).

| master (pinned cores) | pipeline s | rolled-up points | points/sec | turns/sec |
|---|---|---|---|---|
| local[{n}] | {small['seconds']} | {small['points']:,} | {small['points_per_sec']:,} | {small['turns_per_sec']:,} |
| local[{n * 4}] | {large['seconds']} | {large['points']:,} | {large['points_per_sec']:,} | {large['turns_per_sec']:,} |

- speedup {n}->{n * 4} cores: **{speedup:.2f}x**
- scaling efficiency (speedup / 4): **{eff:.2f}**

Storage-commit serialization (parquet rename-commit, driver-side) is
excluded from this measurement — on a real multi-executor cluster with
an object-store committer it parallelizes; the full checkpointed
writing job is what `bench.py` times.
"""
    # BENCH_SCALING.md is a hand-curated evidence document since r5;
    # the legacy two-leg path writes its auto-generated stub elsewhere
    (REPO / "BENCH_SCALING_raw.md").write_text(md)


if __name__ == "__main__":
    main()
