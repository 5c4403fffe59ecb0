"""End-to-end job + kill/resume identity (SURVEY §5.2 resume tests)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark.operators.rollup import (
    normalize,
    rollup_tier,
    with_latency,
)
from ecov003_l2t_stars_spark.plans.pipeline import (
    RollupConfig,
    RollupJob,
    read_tier,
)
from ecov003_l2t_stars_spark.sources.transcripts import (
    GenSpec,
    write_transcripts_parquet,
)


@pytest.fixture(scope="module")
def input_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("in") / "transcripts.parquet"
    write_transcripts_parquet(str(p), GenSpec(n_convs=200))
    return str(p)


def _collect_sorted(spark, out_dir, tier):
    df = read_tier(spark, out_dir, tier).drop("conv_bucket")
    return (
        df.orderBy("conv_id", "bucket_start")
        .toPandas()
        .reset_index(drop=True)
    )


def test_full_run_and_resume_identity(spark, input_path, tmp_path_factory):
    out_a = str(tmp_path_factory.mktemp("out_a"))
    out_b = str(tmp_path_factory.mktemp("out_b"))

    cfg_a = RollupConfig(input_path, out_a, n_buckets=8, tiers=("1m", "1h"),
                         smooth_tiers=("1h",), job_id="jobA")
    m = RollupJob(spark, cfg_a).run()
    assert m["buckets_processed"] == 8 and m["rows_processed"] > 0

    # simulated crash: process 3 buckets, "die", resume
    cfg_b = RollupConfig(input_path, out_b, n_buckets=8, tiers=("1m", "1h"),
                         smooth_tiers=("1h",), job_id="jobB")
    job_b = RollupJob(spark, cfg_b)
    m1 = job_b.run(max_buckets=3)
    assert m1["buckets_processed"] == 3
    assert job_b.completed_buckets() == set(range(3)) or len(
        job_b.completed_buckets()
    ) == 3
    m2 = job_b.run()
    assert m2["buckets_processed"] == 5
    # idempotence: nothing left
    assert job_b.run()["buckets_processed"] == 0

    for tier in ("1m", "1h"):
        a = _collect_sorted(spark, out_a, tier)
        b = _collect_sorted(spark, out_b, tier)
        assert list(a.columns) == list(b.columns)
        assert len(a) == len(b)
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if av.dtype.kind == "f":
                assert np.array_equal(av, bv, equal_nan=True), (tier, c)
            else:
                assert (
                    (a[c].isna() == b[c].isna()).all()
                    and (a[c].dropna() == b[c].dropna()).all()
                ), (tier, c)


def test_checkpoint_lineage(spark, input_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out_c"))
    cfg = RollupConfig(input_path, out, n_buckets=4, tiers=("1h",),
                       smooth_tiers=(), job_id="jobC")
    RollupJob(spark, cfg).run()
    ck = spark.read.parquet(f"{out}/checkpoints")
    rows = ck.collect()
    assert len(rows) == 4
    assert all(r.input_snapshot == input_path for r in rows)
    assert all(r.rows_processed > 0 for r in rows)
    # rows_processed sums to the deduped row count
    raw = spark.read.parquet(input_path).dropDuplicates(["conv_id", "turn_idx"])
    assert sum(r.rows_processed for r in rows) == raw.count()


def test_smoothed_tier_written(spark, input_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out_d"))
    cfg = RollupConfig(input_path, out, n_buckets=4, tiers=("1h",),
                       smooth_tiers=("1h",), job_id="jobD")
    RollupJob(spark, cfg).run()
    t = read_tier(spark, out, "1h")
    assert "smooth_mean" in t.columns
    assert t.where(F.col("smooth_mean").isNull()).count() == 0
    state = spark.read.parquet(f"{out}/rollup_state")
    assert state.count() == t.select("conv_id").distinct().count()
    segs = spark.read.parquet(f"{out}/payload_1h")
    assert segs.agg(F.sum("n_points")).collect()[0][0] == t.where(
        ~F.col("gap_filled")
    ).count()


_EXACT_COLS = (
    "n_turns", "n_user", "n_assistant", "n_system", "n_tool", "n_latency",
    "latency_p50", "latency_p90", "latency_p99",
    "latency_max", "latency_sum", "latency_var",
)


def test_default_job_tiers_match_direct_rollup(spark, tmp_path_factory):
    """The default job cascades 1h/1d/30d from the 1m digests; every
    observed row of every tier it writes equals the direct-from-raw
    ``rollup_tier`` bit-for-bit, including over hot conversations."""
    spec = GenSpec(n_convs=150, hot_frac=0.02, hot_multiplier=50)
    inp = tmp_path_factory.mktemp("in_hot") / "transcripts.parquet"
    write_transcripts_parquet(str(inp), spec)
    raw = spark.read.parquet(str(inp))
    turns = raw.groupBy("conv_id").count().agg(F.max("count")).first()[0]
    assert turns >= 10 * spec.mean_turns  # at least one hot conversation

    out = str(tmp_path_factory.mktemp("out_hot"))
    cfg = RollupConfig(str(inp), out)
    RollupJob(spark, cfg).run()

    lat = with_latency(normalize(raw))
    key = ["conv_id", "bucket_start"]
    for tier in cfg.tiers:
        got = read_tier(spark, out, tier)
        if tier in cfg.smooth_tiers:
            got = got.where(~F.col("gap_filled"))
        got = got.select(*key, *_EXACT_COLS).orderBy(*key).toPandas()
        want = (
            rollup_tier(lat, tier).select(*key, *_EXACT_COLS)
            .orderBy(*key).toPandas()
        )
        assert len(got) == len(want) > 0, tier
        for c in key:
            assert (got[c] == want[c]).all(), (tier, c)
        for c in _EXACT_COLS:
            g = got[c].to_numpy(dtype=float)
            w = want[c].to_numpy(dtype=float)
            assert np.array_equal(g, w, equal_nan=True), (tier, c)
