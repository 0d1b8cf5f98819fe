"""Spark plumbing for the Gorilla / delta-of-delta codecs.

One blob per ``(conv_id, day)`` chunk of the ordered series. At 10^12
turns the encode is embarrassingly parallel across (conv, day) chunks
and blob size stays bounded by the day bucket regardless of conversation
length (a hot conversation never concentrates on one task beyond a
single day's turns).

Physical strategy: the encode is one
:func:`~aroma_spark.operators.segments.scan_by_key` pass keyed on
(conv_id, day) — transcript data has millions of tiny (conv, day)
groups, so the per-group work is a numpy slice of a sorted batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aroma_spark.functions.codecs import (
    decode_dod_many,
    decode_gorilla_many,
    encode_dod_segments,
    encode_gorilla_segments,
)
from aroma_spark.operators.segments import scan_by_key

ENCODED_SCHEMA = (
    "conv_id string, day date, n long, ts_blob binary, val_blob binary"
)
DECODED_SCHEMA = "conv_id string, day date, seq_idx long, ts_us long, value double"


def _encode_groups(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
    """Encode every (conv_id, day) run of a sorted batch in one numpy pass.

    ``starts`` are the runs' first rows; the segmented encoders do the
    rest — no pandas groupby (measured ~18% of the old phase wall) and
    no per-group encode calls (~67%; see encode_dod_segments). Output
    blobs are byte-identical to the per-group encoders (asserted in
    tests/test_codecs.py).
    """
    cid = pdf["conv_id"].to_numpy()
    # __day32 is int32 days-since-epoch: no 10^8 boxed datetime.date
    # objects per run (Arrow date32 -> pandas materializes one Python
    # object PER ROW; shipped as int32, only the per-group output row
    # pays the date conversion below)
    day = pdf["__day32"].to_numpy()
    lens = np.diff(np.append(starts, len(pdf)))
    ts = pdf["__ts_us"].to_numpy("int64")
    vals = pdf["__val"].to_numpy("float64")
    return pd.DataFrame(
        {
            "conv_id": cid[starts],
            "day": day[starts]
            .astype("datetime64[D]")
            .astype(object),  # datetime.date, one per GROUP not per row
            "n": lens,
            "ts_blob": encode_dod_segments(ts, starts),
            "val_blob": encode_gorilla_segments(vals, starts),
        }
    )


def encode_series(
    signals: DataFrame,
    value_col: str = "inter_time_us",
    assume_clustered: bool = False,
) -> DataFrame:
    """(conv_id, turn_idx, ts, <value_col>) -> one blob row per (conv, day).

    ``assume_clustered=True`` skips the repartition+sort: valid when the
    input is already hash-partitioned by conv_id and sorted by
    (conv_id, turn_idx) within partitions with ts monotone per
    conversation — exactly what the signal window produces. The pipeline
    uses this to encode from the cached signal frame with zero extra
    shuffles.
    """
    # __day32 = unix_date: the day boundary as a plain int32 (the Arrow
    # transfer of a date32 column materializes a boxed datetime.date per
    # row on the pandas side — measured Python-side CPU, removed by
    # shipping the int). turn_idx rides along only when the sort still
    # has to happen: the clustered fast path never ships it.
    prepped = signals.select(
        "conv_id",
        F.unix_date(F.to_date("ts")).alias("__day32"),
        *([] if assume_clustered else ["turn_idx"]),
        F.unix_micros("ts").alias("__ts_us"),
        F.col(value_col).cast("double").alias("__val"),
    )
    return scan_by_key(
        prepped,
        ["conv_id", "__day32"],
        ["turn_idx"],
        _encode_groups,
        ENCODED_SCHEMA,
        clustered=assume_clustered,
    )


def decode_series(encoded: DataFrame) -> DataFrame:
    """Blob rows -> exploded (conv_id, day, seq_idx, ts_us, value) rows."""

    def dec(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            # transposed decode: all blobs of the batch advance in
            # lockstep (sequential per blob, vectorized across blobs) —
            # 3.3x over per-blob loops on a 585-blob batch
            ts_parts = decode_dod_many(list(pdf["ts_blob"]))
            val_parts = decode_gorilla_many(list(pdf["val_blob"]))
            ns = np.array([len(t) for t in ts_parts])
            yield pd.DataFrame(
                {
                    "conv_id": np.repeat(pdf["conv_id"].to_numpy(), ns),
                    "day": np.repeat(pdf["day"].to_numpy(), ns),
                    "seq_idx": np.concatenate(
                        [np.arange(n, dtype=np.int64) for n in ns]
                    )
                    if len(ns)
                    else np.array([], dtype=np.int64),
                    "ts_us": np.concatenate(ts_parts)
                    if ts_parts
                    else np.array([], dtype=np.int64),
                    "value": np.concatenate(val_parts)
                    if val_parts
                    else np.array([], dtype=np.float64),
                }
            )

    return encoded.mapInPandas(dec, DECODED_SCHEMA)


def codec_roundtrip(
    signals: DataFrame,
    value_col: str = "inter_time_us",
    assume_clustered: bool = False,
) -> DataFrame:
    """encode ∘ decode = identity — exposed as a driver-checkable query.

    Returns the same rows as the plain signal frame (modulo column set),
    so its DuckDB oracle is ordinary SQL: the codec path must be exact to
    pass the hash compare.

    ``assume_clustered`` forwards to :func:`encode_series`: pass True
    when ``signals`` comes straight off the per-conversation window
    (hash-partitioned by conv_id, sorted by (conv_id, ts)) — the encode
    then rides that layout with ZERO extra exchange/sort (r6: the
    default path paid a second full repartition+sort of data the window
    had just ordered).
    """
    dec = decode_series(encode_series(signals, value_col, assume_clustered))
    return dec.select(
        "conv_id",
        "day",
        F.col("seq_idx").cast("long").alias("seq_idx"),
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        F.col("value").cast("long").alias(value_col),
    )
