"""Per-stage profile of one benchmark operation, from Spark's event log.

Sets up a ``perfbench`` workload exactly as a timed run does (inputs
from ``--seed``, untimed warm-up), runs ``--ops`` operations with the
uncompressed event log on, stops the session, and folds the log per
stage for the stages submitted inside the LAST operation's window:

- ``tasks``: task count;
- ``wall_s``: stage submission to completion;
- ``run_s`` / ``cpu_s``: summed executor run time and JVM CPU time of
  its tasks (a ``mapInPandas`` kernel's Python time shows in run, not
  in CPU);
- ``shuffle_mb``: shuffle bytes written;
- ``scopes``: the operator scopes of the stage's RDDs
  (``WholeStageCodegen (3)``, ``MapInPandas``, ``Exchange``, ...).

A stage of one task that ran longer than ``--flag-s`` seconds is
flagged ``1-TASK``: on a multi-core session it leaves the other cores
idle (the typical cause is AQE coalescing a small shuffle into one
partition in front of a CPU-heavy consumer).

Usage (from the repository root):

    python scripts/stage_profile.py --workload neardup_curate --seed 1001
    python scripts/stage_profile.py --workload rollup_batch --ops 2 --json
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]

import common  # noqa: E402


def fold_stages(log_dir: Path, lo_ms: float, hi_ms: float) -> list[dict]:
    """One dict per completed stage submitted in ``[lo_ms, hi_ms]``
    (epoch ms), in submission order."""
    stages: dict[int, dict] = {}
    tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for f in sorted(log_dir.rglob("events_*")):
        with open(f) as fh:
            for line in fh:
                head = line[:60]
                if '"SparkListenerStageCompleted"' in head:
                    info = json.loads(line)["Stage Info"]
                    scopes = []
                    for rdd in info.get("RDD Info") or []:
                        name = json.loads(rdd.get("Scope") or "{}").get("name")
                        if name and name not in scopes:
                            scopes.append(name)
                    stages[info["Stage ID"]] = {
                        "stage": info["Stage ID"],
                        "submitted": info.get("Submission Time", 0),
                        "wall_s": (info.get("Completion Time", 0)
                                   - info.get("Submission Time", 0)) / 1e3,
                        "scopes": scopes,
                    }
                elif '"SparkListenerTaskEnd"' in head:
                    e = json.loads(line)
                    tm = e.get("Task Metrics") or {}
                    acc = tasks[e["Stage ID"]]
                    acc["tasks"] += 1
                    acc["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    acc["shuffle_mb"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0) / 2**20
    out = []
    for sid, st in sorted(stages.items(), key=lambda kv: kv[1]["submitted"]):
        if not lo_ms <= st["submitted"] <= hi_ms:
            continue
        acc = tasks.get(sid, {})
        st.update(
            tasks=int(acc.get("tasks", 0)),
            run_s=acc.get("run_s", 0.0),
            cpu_s=acc.get("cpu_s", 0.0),
            shuffle_mb=acc.get("shuffle_mb", 0.0),
        )
        out.append(st)
    return out


def report(stages: list[dict], op_s: float, flag_s: float) -> str:
    lines = [
        f"{'stage':>5} {'tasks':>5} {'wall_s':>7} {'run_s':>7} "
        f"{'cpu_s':>7} {'shuf_MB':>8}  scopes"
    ]
    flagged = 0
    for st in stages:
        one = st["tasks"] == 1 and st["wall_s"] > flag_s
        flagged += one
        lines.append(
            f"{st['stage']:>5} {st['tasks']:>5} {st['wall_s']:>7.2f} "
            f"{st['run_s']:>7.2f} {st['cpu_s']:>7.2f} "
            f"{st['shuffle_mb']:>8.2f}  {', '.join(st['scopes'])}"
            + ("   <-- 1-TASK" if one else "")
        )
    lines.append(
        f"op {op_s:.2f}s, {len(stages)} stages, "
        f"task run {sum(s['run_s'] for s in stages):.2f}s, "
        f"{flagged} one-task stage(s) over {flag_s}s"
    )
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("rollup_batch", "neardup_curate"))
    ap.add_argument("--seed", type=int, default=1001)
    ap.add_argument("--ops", type=int, default=1,
                    help="operations to run; the last one is profiled")
    ap.add_argument("--flag-s", type=float, default=0.5)
    ap.add_argument("--json", action="store_true",
                    help="print one JSON object instead of the table")
    args = ap.parse_args()
    if args.ops < 1:
        ap.error("--ops must be at least 1")

    work = Path(tempfile.mkdtemp(prefix="stage_profile-"))
    try:
        common.prepare_env(work)
        from workloads import WORKLOADS

        log_dir = work / "eventlog"
        spark = common.start_spark("stage-profile", work, log_dir)
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed)
            wl.prepare()
            wl.warm_up()
            wl.expected()
            for i in range(args.ops):
                r = wl.op(i)
        finally:
            common.stop_spark(spark)
        lo = r.t_start * 1e3
        stages = fold_stages(log_dir, lo, lo + r.op_s * 1e3)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.json:
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "op_s": r.op_s, "mismatches": r.mismatches,
                          "stages": stages}))
    else:
        print(report(stages, r.op_s, args.flag_s))
        if r.mismatches:
            print(f"WARNING: the profiled operation had {r.mismatches} "
                  "mismatches")


if __name__ == "__main__":
    main()
