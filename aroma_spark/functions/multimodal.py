"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct;
transforms run as Arrow-batched ``mapInPandas`` so payload bytes never
round-trip through Python row objects. The oracle-checked query path
(``media_features``) uses the deterministic :func:`fake_features`
projection, because DuckDB must compute the same floats from the same
bytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16
FEATURE_SCHEMA = f"media_id long, kind string, feature array<float>, n_bytes long"


def fake_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in feature extractor: md5-seeded projection of
    the payload bytes. Stable across engines/partitions -> testable."""
    h = hashlib.md5(payload).digest()
    raw = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype=np.uint32)
    return (raw.astype(np.float64) / 2**32).astype(np.float32)


def extract_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow batch in/out; one task per input partition — media tables
    should be stored with size-bounded row groups
    (spark.sql.files.maxPartitionBytes) so a batch of payloads fits in
    executor memory.
    """

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                fake_features(p if p is not None else b"").tolist()
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "n_bytes": [
                        len(p) if p is not None else 0 for p in pdf["payload"]
                    ],
                }
            )

    return media.mapInPandas(fn, FEATURE_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Media table derived deterministically from the shared ``documents``
    corpus: payload = UTF-8 bytes of the text column. Both engines can
    compute the md5-projection features from the same bytes, which makes
    the multimodal path oracle-checkable at every scale factor."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.coalesce(F.col("text"), F.lit("")).cast("binary").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        (F.col("doc_id") % 16 + 1).cast("int").alias("n_frames"),
        F.lit(16000).alias("sample_rate"),
    )

