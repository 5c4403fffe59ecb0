"""MinHash signature kernel timer (no Spark — kernel only).

Builds the near-dup benchmark corpus the way ``perfbench/inputs.py``
does (the committed ``perfbench/data/documents.parquet`` in
``--replicas`` seed-chosen letter-permuted copies plus a ``--flood`` of
boilerplate variants), then times the signature kernel of
``minhash_signatures`` on one core over Arrow-batch-sized slices of it:

- ``hashes``: encode, rolling ``token_hash62``, window gather, dedup
  (``_shingle_hashes``);
- ``mix``: Carter–Wegman mixes and per-doc mins (``_minhash_mins``);
- ``other``: null handling, hashing slices, screen packs, output rows.

It then runs the per-doc oracle body kept in ``tests/minhash_oracle.py``
over the same batches and counts docs whose signature or packed screen
columns differ (must be 0).

Usage: python scripts/bench_minhash_kernel.py [--seed 1001] [--docs N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT), str(ROOT / "tests")]

from ecov003_l2t_stars_spark.operators import dedup as D  # noqa: E402
from minhash_oracle import minhash_batch_oracle  # noqa: E402
from perfbench import inputs  # noqa: E402


def _timed(fn, acc: dict, key: str):
    def wrapper(*args):
        t0 = time.perf_counter()
        out = fn(*args)
        acc[key] += time.perf_counter() - t0
        return out

    return wrapper


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1001)
    # perfbench/workloads.py: DOC_REPLICAS, DOC_FLOOD
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--flood", type=int, default=1500)
    ap.add_argument("--docs", type=int, default=None,
                    help="time only the first N docs")
    # get_spark's spark.sql.execution.arrow.maxRecordsPerBatch
    ap.add_argument("--batch", type=int, default=65536)
    ap.add_argument("--n-hashes", type=int, default=64)
    ap.add_argument("--k", type=int, default=5)
    args = ap.parse_args()
    if hasattr(os, "sched_setaffinity"):
        os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})

    texts = inputs.documents(
        inputs.base_documents(), args.replicas, args.seed, args.flood
    )["text"].tolist()[:args.docs]
    batches = [texts[i:i + args.batch]
               for i in range(0, len(texts), args.batch)]
    a, b = D._minhash_coeffs(args.n_hashes)

    phase = {"hashes": 0.0, "mix": 0.0}
    hashes, mins = D._shingle_hashes, D._minhash_mins
    D._shingle_hashes = _timed(hashes, phase, "hashes")
    D._minhash_mins = _timed(mins, phase, "mix")
    try:
        t0 = time.perf_counter()
        got = [D._minhash_batch(t, a, b, args.k) for t in batches]
        kernel_s = time.perf_counter() - t0
    finally:
        D._shingle_hashes, D._minhash_mins = hashes, mins

    t0 = time.perf_counter()
    want = [minhash_batch_oracle(t, a, b, args.k) for t in batches]
    oracle_s = time.perf_counter() - t0

    diff = 0
    for (gs, gp), (ws, wp) in zip(got, want):
        for i, (g, w) in enumerate(zip(gs, ws)):
            same = (g is None) if w is None else (
                g is not None and np.array_equal(g, w))
            diff += int(not same or not np.array_equal(gp[i], wp[i]))
    n = len(texts)
    print(json.dumps({
        "docs": n,
        "chars": sum(len(t) for t in texts if t is not None),
        "kernel_s": round(kernel_s, 3),
        "kernel_us_per_doc": round(kernel_s / n * 1e6, 2),
        "phase_s": {
            "hashes": round(phase["hashes"], 3),
            "mix": round(phase["mix"], 3),
            "other": round(kernel_s - phase["hashes"] - phase["mix"], 3),
        },
        "oracle_s": round(oracle_s, 3),
        "oracle_us_per_doc": round(oracle_s / n * 1e6, 2),
        "oracle_mismatched_docs": diff,
    }))


if __name__ == "__main__":
    main()
