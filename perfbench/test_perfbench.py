"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

Inputs are a pure function of the seed, the metric names the benchmark
prints are the ones ``BENCHMARK.json`` declares, and a corrupted output
is counted as a failed operation.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import common  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_same_seed_same_inputs():
    corpus = inputs.base_documents()[:40]
    for seed in (1, 7):
        a = inputs.documents(corpus, 3, seed, flood_docs=30)
        b = inputs.documents(corpus, 3, seed, flood_docs=30)
        pd.testing.assert_frame_equal(a, b)
        assert len(a) == 3 * 40 + 30
        t = inputs.transcripts(50, seed)
        pd.testing.assert_frame_equal(t, inputs.transcripts(50, seed))
        base, batches = inputs.late_split(t, seed, 0.05, 4)
        base2, batches2 = inputs.late_split(t, seed, 0.05, 4)
        pd.testing.assert_frame_equal(base, base2)
        assert len(batches) == len(batches2) > 0
        for x, y in zip(batches, batches2):
            pd.testing.assert_frame_equal(x, y)
        assert len(base) + sum(map(len, batches)) == len(t)
    assert not inputs.documents(corpus, 3, 1, flood_docs=30).equals(
        inputs.documents(corpus, 3, 2, flood_docs=30)
    )


def test_replicas_are_pairwise_far():
    perms = inputs._far_permutations(16, 3)
    assert len(set(perms)) == 16
    for i, p in enumerate(perms):
        for q in perms[:i]:
            assert sum(a != b for a, b in zip(p, q)) >= 6


def test_all_null_tool_batch_keeps_string_type(tmp_path):
    t = inputs.transcripts(20, 3)
    batch = t[t["role"] != "tool"].head(5).copy()
    assert batch["tool"].isna().all()
    path = tmp_path / "batch.parquet"
    inputs.write_parquet(batch, str(path), inputs.TRANSCRIPT_SCHEMA)
    assert pq.read_schema(path).field("tool").type == pa.string()


def test_metric_names_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert run.UNITS == e2e
    per_layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert layers.UNITS == per_layer
    assert len(per_layer) <= 128
    assert {w["name"] for w in SPEC["workloads"]} == set(run.WORKLOAD_NAMES)
    assert set(workloads.WORKLOADS) == set(run.WORKLOAD_NAMES)


def _write_dir(df: pd.DataFrame, path: Path) -> None:
    path.mkdir(parents=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   path / "part-0.parquet")


def test_neardup_check_counts_a_bad_pair(tmp_path):
    wl = workloads.NeardupCurate(None, tmp_path, 1)
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    wl.docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [base, base + " kilo", "zulu yankee xray whiskey victor"],
    })
    wl.expected()
    sa, sb = workloads._shingles(base), workloads._shingles(base + " kilo")
    j = len(sa & sb) / len(sa | sb)
    assert j >= workloads.JACCARD_MIN
    pairs, curated = tmp_path / "pairs", tmp_path / "curated"
    _write_dir(pd.DataFrame({"doc_a": [0], "doc_b": [1], "jaccard": [j]}),
               pairs)
    _write_dir(pd.DataFrame({"doc_id": [0, 2]}), curated)
    assert wl.check(tmp_path)[0] == 0

    # a pair far below the threshold, and a corpus that kept both ends
    (pairs / "part-0.parquet").unlink()
    (curated / "part-0.parquet").unlink()
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(
        {"doc_a": [0], "doc_b": [2], "jaccard": [0.9]}),
        preserve_index=False), pairs / "part-0.parquet")
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(
        {"doc_id": [0, 1, 2]}), preserve_index=False),
        curated / "part-0.parquet")
    assert wl.check(tmp_path)[0] >= 2


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    saved = dict(os.environ)
    work = tmp_path_factory.mktemp("perfbench")
    common.prepare_env(work)
    s = common.start_spark("perfbench-tests", work)
    yield s, work
    common.stop_spark(s)
    os.environ.clear()
    os.environ.update(saved)


def _drop_one_1m_row(out: Path) -> None:
    f = next((out / "rollup_1m").rglob("*.parquet"))
    t = pq.read_table(f)
    # Spark writes timestamps as INT96; keep the file readable by it
    pq.write_table(t.slice(1), f, use_deprecated_int96_timestamps=True)
    # Spark verifies local files against their checksum siblings
    f.with_name(f".{f.name}.crc").unlink(missing_ok=True)


class _DropOneRow(workloads.RollupBatch):
    """Drops one row of the 1m tier after each run: a corrupted output."""

    def _run(self, input_path, out, job_id):
        super()._run(input_path, out, job_id)
        if job_id != "warm":
            _drop_one_1m_row(out)


def test_dropped_tier_row_counts_as_failed(spark, monkeypatch):
    s, work = spark
    monkeypatch.setattr(workloads, "ROLLUP_CONVS", 60)
    monkeypatch.setattr(workloads, "ROLLUP_WARM_CONVS", 30)
    args = type("A", (), {"seconds": 0.0})()

    ok = workloads.RollupBatch(s, work / "ok", 5)
    metrics, reported, attempted, failed = run._end_to_end(ok, args, 0.0)
    assert (attempted, failed) == (1, 0)
    assert set(metrics) == set(run.UNITS)
    assert reported["failed_frac"] == 0

    bad = _DropOneRow(s, work / "bad", 5)
    _, reported, attempted, failed = run._end_to_end(bad, args, 0.0)
    assert (attempted, failed) == (1, 1)
    assert reported["failed_frac"] == 1


def test_rollup_replay_output_is_checked(spark, monkeypatch):
    s, work = spark
    monkeypatch.setattr(workloads, "ROLLUP_CONVS", 60)
    wl = workloads.RollupBatch(s, work / "replay_rollup", 6)
    wl.prepare()
    wl.expected()
    out = work / "replay_rollup" / "replay"
    layers.replay_rollup(wl, layers.Tracer(s.sparkContext, "t"), {}, out)
    s.sparkContext.setJobDescription(None)
    assert wl.check_rollup(out)[0] == 0

    _drop_one_1m_row(out)
    assert wl.check_rollup(out)[0] > 0


def test_neardup_replay_output_is_checked(spark, monkeypatch):
    s, work = spark
    corpus = inputs.base_documents()[:300]
    monkeypatch.setattr(inputs, "base_documents", lambda: corpus)
    monkeypatch.setattr(workloads, "DOC_REPLICAS", 2)
    # keeps the workload's flood: without one, the cap observation of
    # this small corpus cannot be read
    wl = workloads.NeardupCurate(s, work / "replay_neardup", 6)
    wl.prepare()
    wl.expected()
    out = work / "replay_neardup" / "replay"
    m: dict = {}
    layers.replay_neardup(wl, layers.Tracer(s.sparkContext, "t"), m, out)
    s.sparkContext.setJobDescription(None)
    bad, n_pairs, _ = wl.check(out)
    assert bad == 0
    assert n_pairs == m["dedup.pairs"]
