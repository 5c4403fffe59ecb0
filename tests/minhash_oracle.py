"""Exactness oracle for the MinHash signature kernel.

The per-doc body that :func:`minhash_signatures` ran before its
whole-batch rewrite, kept verbatim as a plain function: every k-char
shingle is a Python string, deduplicated with ``dict.fromkeys``, hashed
by ``token_hash62_np``, mixed in a row-major ``(shingles x n_hashes)``
matrix per memory-bounded chunk and min-reduced per doc. Slow but
obviously right; ``tests/test_dedup_kernel.py`` and
``scripts/bench_minhash_kernel.py`` compare the production kernel
against it bit for bit.
"""

from __future__ import annotations

import numpy as np

from ecov003_l2t_stars_spark.functions.text import token_hash62_np
from ecov003_l2t_stars_spark.operators.dedup import _SCREEN_LANES

M = (1 << 31) - 1


def minhash_batch_oracle(texts, a, b, k):
    """(signatures, packs) for one batch: ``signatures[i]`` is the
    ``len(a)``-long int64 signature of ``texts[i]`` or ``None`` for a
    null text; ``packs`` is the ``(len(texts), ceil(len(a)/7))`` screen
    pack matrix (zero rows for nulls)."""
    n_hashes = len(a)
    # shingles per chunk × n_hashes × 8 B ≈ 64 MB mix-matrix ceiling
    chunk_tokens = max(64 * 1024 * 1024 // (8 * n_hashes), 1024)
    n_packs = -(-n_hashes // _SCREEN_LANES)
    shingles = [
        None
        if t is None
        else list(
            dict.fromkeys(
                t[i:i + k] for i in range(max(len(t) - (k - 1), 1))
            )
        )
        for t in texts
    ]
    lens = np.array(
        [len(x) if x is not None else 0 for x in shingles],
        dtype=np.int64,
    )
    out: list = [None] * len(shingles)
    n_rows = len(shingles)
    packs = np.zeros((n_rows, n_packs), dtype=np.int64)
    start = 0
    while start < len(shingles):
        end, tok = start, 0
        while end < len(shingles) and (
            tok == 0 or tok + lens[end] <= chunk_tokens
        ):
            tok += lens[end]
            end += 1
        live = [i for i in range(start, end) if lens[i] > 0]
        if live:
            flat_sh: list = []
            for i in live:
                flat_sh.extend(shingles[i])
            flat = token_hash62_np(flat_sh) % M
            mixed = (flat[:, None] * a + b) % M
            starts = np.zeros(len(live), dtype=np.int64)
            starts[1:] = np.cumsum(lens[live])[:-1]
            mins = np.minimum.reduceat(mixed, starts, axis=0)
            for j, i in enumerate(live):
                out[i] = mins[j]
            low = mins & 0xFF
            for g in range(n_packs):
                lanes = min(_SCREEN_LANES, n_hashes - g * _SCREEN_LANES)
                w = np.int64(1) << (8 * np.arange(lanes, dtype=np.int64))
                packs[live, g] = (
                    low[:, g * _SCREEN_LANES:g * _SCREEN_LANES + lanes] * w
                ).sum(axis=1)
        start = end
    return out, packs
