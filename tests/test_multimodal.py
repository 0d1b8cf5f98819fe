"""Multimodal plumbing: binary payloads, Arrow batch feature extraction."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from aroma_spark.functions.multimodal import (
    FEATURE_DIM,
    extract_features,
    fake_features,
)


def synth_media(spark, n: int = 64, seed: int = 42):
    """Deterministic fake media table (payload = seeded bytes)."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.sha2(F.concat(F.lit(f"media:{seed}:"), F.col("id")), 256)
        .cast("binary")
        .alias("payload"),
    )


def test_fake_features_deterministic():
    a, b = fake_features(b"abc"), fake_features(b"abc")
    assert np.array_equal(a, b)
    assert len(a) == FEATURE_DIM
    assert not np.array_equal(a, fake_features(b"abd"))


def test_extract_features_schema_and_values(spark):
    media = synth_media(spark, n=32)
    out = extract_features(media).toPandas().sort_values("media_id")
    assert len(out) == 32
    assert set(out.kind) == {"image", "audio", "video"}
    assert (out.n_bytes > 0).all()
    # per-row determinism against the local function
    payloads = {r.media_id: r.payload for r in media.collect()}
    row = out.iloc[0]
    assert np.allclose(
        np.array(row.feature, dtype=np.float32),
        fake_features(bytes(payloads[row.media_id])),
    )


def test_extract_features_partition_invariant(spark):
    media = synth_media(spark, n=16)
    a = extract_features(media.repartition(1)).toPandas().sort_values("media_id")
    b = extract_features(media.repartition(7)).toPandas().sort_values("media_id")
    assert [list(x) for x in a.feature] == [list(x) for x in b.feature]
