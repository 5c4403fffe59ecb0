"""The exact-Jaccard verify kernel of the MinHash pipeline.

``_verify_batch`` intersects each pair's shingle sets in Python; the
quadratic ``jaccard_pairs`` (JVM ``array_intersect``/``array_union``
over ``shingle_table`` arrays) is its independent oracle. Their
``(doc_a, doc_b, jaccard)`` rows must agree bit for bit, including
which pairs sit exactly on the threshold.
"""

from __future__ import annotations

from itertools import combinations
from unittest import mock

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ecov003_l2t_stars_spark.operators import dedup as D

K = 5
THRESHOLD = 0.8
# ASCII, NUL, Latin-1, CJK and non-BMP code points
ALPHABET = list("ab c") + ["\x00", "é", "中", "文", "😀", "𝔸", "\U0010ffff"]


def _text(min_size, max_size):
    return st.text(st.sampled_from(ALPHABET), min_size=min_size,
                   max_size=max_size)


def _distinct_run(n):
    # n distinct code points: a text whose shingles are all distinct
    return "".join(chr(0x4E00 + i) for i in range(n))


DOC = st.one_of(
    st.none(),
    st.just(""),
    _text(1, K - 1),  # shorter than one shingle: the whole text is one
    _text(K, K),
    _text(K + 1, 40),
    # repeated characters: every shingle is the same one
    st.builds(lambda c, n: c * n, st.sampled_from(ALPHABET),
              st.integers(1, 30)),
)

# pairs exactly at the threshold: a run of n+4 distinct characters has
# n distinct shingles, and its (n'+4)-prefix shares n' of them, so
# n' / n == 0.8 for (n, n') = (5, 4), (10, 8), (15, 12)
EXACT = [
    (_distinct_run(n + K - 1), _distinct_run(m + K - 1))
    for n, m in ((5, 4), (10, 8), (15, 12))
]


def _kernel(texts, threshold):
    """Every i < j pair of ``texts`` through the verify kernel."""
    rows = [(a, b, texts[a], texts[b])
            for a, b in combinations(range(len(texts)), 2)]
    pdf = pd.DataFrame(rows, columns=["doc_a", "doc_b", "_ta", "_tb"])
    out = D._verify_batch(pdf, K, threshold)
    assert list(out.columns) == ["doc_a", "doc_b", "jaccard"]
    return {(int(a), int(b), j) for a, b, j in out.itertuples(index=False)}


def _oracle(spark, texts, threshold):
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = D.jaccard_pairs(df, k=K, threshold=threshold, max_rows=None)
    return {(r.doc_a, r.doc_b, r.jaccard) for r in got.collect()}


@settings(max_examples=25, deadline=None)
@given(texts=st.lists(DOC, max_size=10),
       exact=st.lists(st.sampled_from(EXACT), max_size=2))
def test_kernel_matches_jaccard_pairs(spark, texts, exact):
    texts = texts + [t for pair in exact for t in pair]
    # threshold 0 keeps every non-null pair: every ratio is compared
    every = _oracle(spark, texts, 0.0)
    assert _kernel(texts, 0.0) == every
    assert _kernel(texts, THRESHOLD) == {
        r for r in every if r[2] >= THRESHOLD
    }


def test_kernel_keeps_pairs_exactly_at_threshold(spark):
    texts = [t for pair in EXACT for t in pair]
    want = _oracle(spark, texts, THRESHOLD)
    assert {(0, 1), (2, 3), (4, 5)} <= {(a, b) for a, b, _ in want}
    assert all(j >= THRESHOLD for _, _, j in want)
    assert _kernel(texts, THRESHOLD) == want


def test_kernel_empty_and_null_batches():
    empty = pd.DataFrame({"doc_a": [], "doc_b": [], "_ta": [], "_tb": []})
    assert len(D._verify_batch(empty, K, THRESHOLD)) == 0
    nulls = pd.DataFrame({"doc_a": [1, 2], "doc_b": [3, 4],
                          "_ta": [None, "x"], "_tb": ["x", None]})
    assert len(D._verify_batch(nulls, K, THRESHOLD)) == 0


@pytest.fixture()
def flood_docs(spark, tmp_path):
    """A parquet corpus with a 60-doc flood of one-character variants of
    one boilerplate text next to a few unrelated docs."""
    boiler = " ".join(f"word{i}" for i in range(60))
    rows = [
        (i, boiler[:i] + "#" + boiler[i + 1:]) for i in range(1, 61)
    ] + [
        (100 + i, f"an unrelated document number {i} " * 3)
        for i in range(10)
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        path)
    return spark.read.parquet(path)


def test_minhash_verify_plan_is_one_wide_kernel(spark, flood_docs):
    """No JVM set op is left in the verify plan, and the screened
    candidates the kernel consumes are spread over
    spark.sql.shuffle.partitions partitions, not coalesced into one."""
    seen = []

    def spy(*args):
        seen.append(real(*args))
        return seen[-1]

    real = D._screened
    with mock.patch.object(D, "_screened", spy):
        out = D.minhash_lsh_dedup(flood_docs)
    plans = [
        out._jdf.queryExecution().optimizedPlan().toString(),
        out._jdf.queryExecution().executedPlan().toString(),
    ]
    for plan in plans:
        assert "array_intersect" not in plan
        assert "array_union" not in plan
        assert "MapInPandas" in plan
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n > 1
    (screened,) = seen
    assert screened.rdd.getNumPartitions() == n
    assert out.count() > 0


def test_verify_id_collect_is_bounded(spark, flood_docs):
    """A flood with more screen survivors than the collect bound falls
    back to the semi-join: same pairs, and no In() predicate."""
    batch1 = flood_docs.where(flood_docs.doc_id % 2 == 0)
    batch2 = flood_docs.where(flood_docs.doc_id % 2 == 1)
    store = D.minhash_signature_store(batch1)

    def run(**kw):
        pairs, _ = D.minhash_lsh_increment(batch2, store, flood_docs, **kw)
        rows = {(r.doc_a, r.doc_b, r.jaccard) for r in pairs.collect()}
        return rows, pairs._jdf.queryExecution().executedPlan().toString()

    lazy, lazy_plan = run()
    pushed, pushed_plan = run(collect_verify_ids=True)
    assert "In(doc_id" in pushed_plan and "In(" not in lazy_plan
    assert len({d for a, b, _ in lazy for d in (a, b)}) > 10
    with mock.patch.object(D, "_VERIFY_ID_BOUND", 10):
        bounded, bounded_plan = run(collect_verify_ids=True)
    assert bounded == pushed == lazy
    assert "In(" not in bounded_plan
