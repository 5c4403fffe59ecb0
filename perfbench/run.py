"""Benchmark entry point.

    python3 perfbench/run.py --workload rollup_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, starts a ``local[nproc]`` session through the engine's own
factory, warms the JVM up (untimed, counted in ``setup_s``), then runs
operations until ``--seconds`` of operation time are spent (at least
one), checking each one's output outside the timed region. The last
stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer ones, from
a traced replay of the operation (see ``layers.py``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402
import layers  # noqa: E402


def _end_to_end(wl, args, session_s: float) -> tuple[dict, dict, int, int]:
    """Set-up, warm-up and the timed operations. Returns (gated metrics,
    reported-only figures, attempted, failed)."""
    t0 = time.perf_counter()
    wl.prepare()
    wl.warm_up()
    prep_s = time.perf_counter() - t0
    wl.expected()

    results = []
    spent = 0.0
    while not results or spent + results[-1].op_s <= args.seconds:
        r = wl.op(len(results))
        results.append(r)
        spent += r.op_s
        print(
            f"# op {len(results) - 1}: op {r.op_s:.3f}s items {r.items} "
            f"mismatches {r.mismatches} {json.dumps(r.detail)}",
            flush=True,
        )
    failed = sum(1 for r in results if r.mismatches)
    metrics = {
        "items_per_s": common.median([r.items / r.op_s for r in results]),
        "stored_bytes_per_item": common.median(
            [r.stored_bytes_per_item for r in results]
        ),
        "setup_s": session_s + prep_s,
    }
    reported = {"failed_frac": failed / len(results)}
    return metrics, reported, len(results), failed


# gated end-to-end metrics (BENCHMARK.json "end_to_end")
UNITS = {
    "items_per_s": "1/s",
    "stored_bytes_per_item": "B",
    "setup_s": "s",
}
# printed with every timed run but not gated: peak RSS is too noisy
# between runs on a shared 4-core host to hold any bound, and
# failed_frac reads 0 on a correct run (see README.md)
REPORTED_UNITS = {
    "peak_rss_mb": "MB",
    "failed_frac": "ratio",
}


WORKLOAD_NAMES = ("rollup_batch", "neardup_curate")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not common.ENGINE.is_dir():
        print(
            f"perfbench: engine package not found at {common.ENGINE.name}/ "
            "next to perfbench/; run from the repository root",
            file=sys.stderr,
        )
        return 2

    work = common.ROOT / ".perfbench_work" / (
        f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    try:
        common.prepare_env(work)
        from workloads import WORKLOADS

        event_log = work / "eventlog" if args.trace else None
        t0 = time.perf_counter()
        with common.RssSampler() as rss:
            spark = common.start_spark(
                f"perfbench-{args.workload}", work, event_log
            )
            session_s = time.perf_counter() - t0
            try:
                wl = WORKLOADS[args.workload](spark, work, args.seed)
                if args.trace:
                    metrics, attempted, failed = layers.run(wl, args, work)
                else:
                    metrics, reported, attempted, failed = _end_to_end(
                        wl, args, session_s
                    )
            finally:
                common.stop_spark(spark)
        if args.trace:
            metrics["mem.driver_peak_mb"] = rss.driver_peak_bytes / 2**20
            metrics["mem.workers_peak_mb"] = rss.workers_peak_bytes / 2**20
            metrics["mem.workers_peak"] = rss.workers_peak
            metrics = layers.finish(metrics, event_log)
        else:
            reported["peak_rss_mb"] = rss.driver_peak_bytes / 2**20
            print("# reported, not gated: " + ", ".join(
                f"{k} {v:.4f} {REPORTED_UNITS[k]}" for k, v in reported.items()
            ))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only once no other run is using it

    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": layers.unit(k) if args.trace else UNITS[k]}
            for k, v in metrics.items()
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
