"""EWMA smoothing, heavy hitters."""

from __future__ import annotations

from pyspark.sql import functions as F

from aroma_spark.operators.normalize import dedup_exact
from aroma_spark.operators.signals import with_signals
from aroma_spark.operators.smoothing import ewma_smooth
from aroma_spark.operators.tiers import top_convs_per_bucket


def test_ewma_recurrence_exact(spark, tiny_transcripts):
    sig = with_signals(dedup_exact(tiny_transcripts))
    got = {
        (r["conv_id"], r["turn_idx"]): r["ewma"]
        for r in ewma_smooth(sig, 0.3, "text_len").collect()
    }
    # conv a text_len series (11, 2, 9, 10) — recompute the identical
    # float recurrence here (bit-for-bit, no approx comparisons)
    y = 11.0
    assert got[("a", 0)] == y
    for t, x in ((1, 2.0), (2, 9.0), (3, 10.0)):
        y = (1.0 - 0.3) * y + 0.3 * x
        assert got[("a", t)] == y
    # single-turn conversation: ewma == value
    assert got[("c", 0)] == 4.0


def test_ewma_rejects_bad_alpha(spark, tiny_transcripts):
    import pytest

    with pytest.raises(ValueError):
        ewma_smooth(with_signals(dedup_exact(tiny_transcripts)), 0.0)


def test_top_convs_rank_and_ties(spark):
    tier = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:00", 5),
            ("b", "2024-01-01 00:00:00", 9),
            ("c", "2024-01-01 00:00:00", 5),
            ("d", "2024-01-01 00:00:00", 1),
            ("a", "2024-01-01 01:00:00", 2),
        ],
        "conv_id string, bucket_ts string, n_points long",
    ).withColumn("bucket_ts", F.to_timestamp("bucket_ts"))
    out = top_convs_per_bucket(tier, 3).collect()
    h0 = sorted(
        (r["rank"], r["conv_id"])
        for r in out
        if str(r["bucket_ts"]) == "2024-01-01 00:00:00"
    )
    # b(9) first; a/c tie at 5 -> conv_id ascending; d(1) cut by n=3
    assert h0 == [(1, "b"), (2, "a"), (3, "c")]
    assert [
        (r["rank"], r["conv_id"])
        for r in out
        if str(r["bucket_ts"]) == "2024-01-01 01:00:00"
    ] == [(1, "a")]
