"""The MinHash signature kernel is bit-identical to the per-doc oracle.

``_minhash_batch`` hashes, mixes and min-reduces a whole Arrow batch in
NumPy passes; ``minhash_oracle.minhash_batch_oracle`` is the per-doc
string body it replaced. Every ``_sig`` and every packed ``_p`` column
must match bit for bit, or LSH pairs, clusters and the curated corpus
could change.
"""

from __future__ import annotations

from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from minhash_oracle import minhash_batch_oracle

from ecov003_l2t_stars_spark.operators import dedup as D

K = 5
# ASCII, Latin-1, CJK and non-BMP code points (UTF-32 needs no
# surrogate pairs, Python slicing and Spark substr agree on them)
ALPHABET = list("ab c") + ["é", "中", "文", "字", "😀", "𝔸", "\U0010ffff"]


def _assert_kernel_matches_oracle(texts, n_hashes=64, k=K):
    a, b = D._minhash_coeffs(n_hashes)
    got_sigs, got_packs = D._minhash_batch(texts, a, b, k)
    want_sigs, want_packs = minhash_batch_oracle(texts, a, b, k)
    assert len(got_sigs) == len(want_sigs) == len(texts)
    for t, got, want in zip(texts, got_sigs, want_sigs):
        if want is None:
            assert got is None, t
        else:
            assert got.dtype == np.int64
            assert np.array_equal(got, want), t
    assert got_packs.dtype == np.int64
    assert got_packs.shape == want_packs.shape
    assert np.array_equal(got_packs, want_packs)


def _text(min_size, max_size):
    return st.text(st.sampled_from(ALPHABET), min_size=min_size,
                   max_size=max_size)


DOC = st.one_of(
    st.none(),
    st.just(""),
    _text(1, K - 1),  # shorter than one shingle: the whole text is one
    _text(K, K),
    _text(K + 1, 60),
    # repeated characters: every shingle is the same one
    st.builds(lambda c, n: c * n, st.sampled_from(ALPHABET),
              st.integers(1, 40)),
)


@settings(max_examples=300, deadline=None)
@given(
    texts=st.lists(DOC, max_size=25),
    n_hashes=st.sampled_from([64, 20, 7, 1]),
    # k = 8 makes the base-131 fold need a mid-roll reduction too
    k=st.sampled_from([K, 1, 3, 8]),
    mix_cols=st.sampled_from([D._MIX_COLS, 1, 3, 16]),
    slice_chars=st.sampled_from([D._SLICE_CHARS, 1, 8, 50]),
)
def test_kernel_matches_oracle(texts, n_hashes, k, mix_cols, slice_chars):
    # small chunk and slice sizes split docs across mix chunks and put
    # docs longer than a slice into slices of their own
    with mock.patch.object(D, "_MIX_COLS", mix_cols), \
            mock.patch.object(D, "_SLICE_CHARS", slice_chars):
        _assert_kernel_matches_oracle(texts, n_hashes, k)


@pytest.mark.parametrize(
    "texts",
    [[], [None], [None, None, None], [""], ["", "", None]],
    ids=["empty", "one_null", "all_null", "one_empty", "empty_and_null"],
)
def test_kernel_edge_batches(texts):
    _assert_kernel_matches_oracle(texts)


def test_kernel_long_doc_at_default_sizes():
    """A doc with more distinct shingles than one mix chunk, and one
    longer than a hashing slice, next to ordinary docs."""
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    long_chunk = "".join(rng.choice(letters, 3 * D._MIX_COLS))
    long_slice = "".join(rng.choice(letters, D._SLICE_CHARS + 1000))
    texts = ["near dup text one", None, long_chunk, "ab", long_slice,
             "near dup text two", ""]
    _assert_kernel_matches_oracle(texts)


def test_minhash_signatures_matches_oracle(spark):
    """Through mapInPandas: the Arrow round trip keeps every column."""
    texts = ["the quick brown fox", None, "", "abc", "中文字中文字中文字",
             "😀😀😀😀😀😀", "the quick brown fax", "x" * 30]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = {r["_id"]: r for r in D.minhash_signatures(df).collect()}
    a, b = D._minhash_coeffs(64)
    want_sigs, want_packs = minhash_batch_oracle(texts, a, b, K)
    for i, want in enumerate(want_sigs):
        got = rows[i]["_sig"]
        assert (got is None) if want is None else got == want.tolist()
        assert [rows[i][f"_p{g}"] for g in range(want_packs.shape[1])] \
            == want_packs[i].tolist()
