"""Tier lattice: re-aggregation exactness, salted equivalence, retention."""

from __future__ import annotations

from pyspark.sql import functions as F

from aroma_spark.operators.normalize import dedup_exact
from aroma_spark.operators.signals import with_signals
from aroma_spark.operators.tiers import (
    retention_prune,
    rollup_lattice,
    rollup_tier,
    rollup_tier_salted,
)
from tests.oracle_pandas import rollup, signals_frame


def _sig(tiny_transcripts):
    return with_signals(dedup_exact(tiny_transcripts))


def test_1m_matches_pandas_oracle(spark, tiny_transcripts):
    sig = _sig(tiny_transcripts)
    got = (
        rollup_tier(sig, "minute")
        .toPandas()
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    want = (
        rollup(signals_frame(dedup_exact(tiny_transcripts).toPandas()), "1min")
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    for col in (
        "n_points",
        "sum_latency_us",
        "min_latency_us",
        "max_latency_us",
        "sum_text_len",
        "sum_tool_calls",
    ):
        assert got[col].tolist() == want[col].tolist(), col


def test_lattice_reagg_equals_direct(spark, tiny_transcripts):
    """1h/1d computed from the tier below == computed straight from raw."""
    sig = _sig(tiny_transcripts)
    tiers = rollup_lattice(sig)
    for name, unit in (("1h", "hour"), ("1d", "day")):
        direct = rollup_tier(sig, unit)
        lattice = tiers[name]
        assert direct.exceptAll(lattice).count() == 0
        assert lattice.exceptAll(direct).count() == 0


def test_lattice_materializes_only_parent_tiers(spark, tiny_transcripts):
    # 1m and 1h each feed a child aggregate; 1d has no child, so it
    # stays a lazy aggregate over the checkpointed 1h
    tiers = rollup_lattice(_sig(tiny_transcripts))

    def root(name):
        return tiers[name]._jdf.queryExecution().logical().nodeName()

    assert {name: root(name) for name in tiers} == {
        "1m": "LogicalRDD",
        "1h": "LogicalRDD",
        "1d": "Aggregate",
    }


def test_salted_equals_direct(spark, tiny_transcripts):
    sig = _sig(tiny_transcripts)
    a, b = rollup_tier(sig, "minute"), rollup_tier_salted(sig, "minute", n_salts=4)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_retention_prune(spark, tiny_transcripts):
    tier = rollup_tier(_sig(tiny_transcripts), "day")
    kept = retention_prune(tier, "2024-01-02")
    assert kept.count() == tier.where(F.col("bucket_ts") >= "2024-01-02").count()
    assert kept.agg(F.min("bucket_ts")).collect()[0][0].day >= 2
