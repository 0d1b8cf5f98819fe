"""Sequence packing for LLM training-data pipelines.

Packing turns a corpus of variable-length documents into fixed
token-budget training sequences. Two canonical strategies, both
deterministic (pure functions of doc_id) and both bucket-parallel — a
global packing order would serialize into one task, so the stream is
split into ``n_buckets`` independent streams by a portable md5 hash of
the doc key (same construction as operators/splits.py), each packed in
doc_id order. At 100 TB, buckets = O(cores) × thousands: every bucket
packs in parallel and the per-bucket state is O(1).

1. ``pack_chunks`` — GPT-style concat-and-chunk: the bucket's token
   stream is concatenated and cut every ``budget`` tokens; documents may
   span chunk boundaries. Pure Catalyst (window cumsum + sequence/
   explode); exact DuckDB twin via generate_series.

2. ``pack_nextfit`` — next-fit bin packing: documents are never split;
   a bin closes when the next document would overflow it. The
   recurrence (fill carries across rows) is inherently sequential per
   bucket, so it runs in
   :func:`~aroma_spark.operators.segments.scan_by_key` keyed on the
   bucket — the oracle twin is a DuckDB recursive CTE iterating
   rank-by-rank.

The reference has no packing analog (its batching pads ragged
sequences, src/aroma/datasets/breakfast.py:299-309); this is a
training-data extension mandated by the task brief.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aroma_spark.functions.text import token_count
from aroma_spark.operators.segments import scan_by_key


def _bucket(key: Column, n_buckets: int, salt: str = "pack") -> Column:
    """Deterministic bucket in [0, n_buckets) — md5-based, portable to
    the DuckDB oracle (same construction as splits._unit_hash)."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(n_buckets)
    ).cast("long")


def _with_tokens(
    df: DataFrame, key_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    # spread a single-split scan before the (regex-split) token count so
    # it runs on all cores, not inside one file's scan task (r6; same
    # guard as dedup._spread_small_input — a no-op at real input sizes)
    from aroma_spark.operators.dedup import _spread_small_input

    df = _spread_small_input(df)
    c = F.coalesce(F.col(text_col), F.lit(""))
    return df.select(
        F.col(key_col),
        token_count(c).alias("n_tokens"),
        _bucket(F.col(key_col), n_buckets).alias("bucket"),
    ).where(F.col("n_tokens") > 0)


def pack_chunks(
    df: DataFrame,
    budget: int,
    n_buckets: int = 16,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk packing: one row per (document, chunk) segment.

    Within each bucket, documents are concatenated in ``key_col`` order
    into a token stream cut every ``budget`` tokens. A document whose
    span crosses a cut contributes one segment per chunk it touches.

    Returns (doc_id, bucket, n_tokens, seq_id, doc_offset, seq_offset,
    seg_len): tokens [doc_offset, doc_offset+seg_len) of the document
    land at [seq_offset, seq_offset+seg_len) of chunk seq_id of the
    bucket. Sum of seg_len per doc == n_tokens (no token lost), and
    every chunk except a bucket's last is exactly ``budget`` tokens.
    """
    t = _with_tokens(df, key_col, text_col, n_buckets)
    w = (
        Window.partitionBy("bucket")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = t.select(
        "*", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cum_before")
    )
    # integer `div`, not double division + cast: a double mantissa loses
    # exactness past 2^53, which a per-bucket token offset can reach
    first_seq = F.expr(f"cum_before div {budget}")
    last_seq = F.expr(f"(cum_before + n_tokens - 1) div {budget}")
    seg = t.select(
        "*", F.explode(F.sequence(first_seq, last_seq)).alias("seq_id")
    )
    # overlap of [cum_before, cum_before+n) with [seq*B, (seq+1)*B)
    seg_start = F.greatest(F.col("cum_before"), F.col("seq_id") * budget)
    seg_end = F.least(
        F.col("cum_before") + F.col("n_tokens"), (F.col("seq_id") + 1) * budget
    )
    return seg.select(
        key_col,
        "bucket",
        "n_tokens",
        F.col("seq_id").cast("long").alias("seq_id"),
        (seg_start - F.col("cum_before")).cast("long").alias("doc_offset"),
        (seg_start - F.col("seq_id") * budget).cast("long").alias("seq_offset"),
        (seg_end - seg_start).cast("long").alias("seg_len"),
    )


def pack_nextfit(
    df: DataFrame,
    budget: int,
    n_buckets: int = 16,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Next-fit bin packing: documents never split, bins never exceed
    ``budget`` (except a single oversize document, which gets a bin of
    its own). One row per document: (doc_id, bucket, n_tokens, bin_idx,
    offset_in_bin).

    The fill recurrence is sequential per bucket — one
    :func:`~aroma_spark.operators.segments.scan_by_key` pass keeps it
    linear-time and bucket-parallel. No state beyond (current bin,
    current fill).
    """
    t = _with_tokens(df, key_col, text_col, n_buckets)

    # the key column keeps its source type (string doc ids pack the same
    # as numeric ones) — hardcoding long here crashed in the Arrow
    # serializer for any non-long key
    key_type = df.schema[key_col].dataType.simpleString()
    schema = (
        f"{key_col} {key_type}, bucket long, n_tokens long, "
        "bin_idx long, offset_in_bin long"
    )

    def pack(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        heads = set(starts.tolist())
        bins, offsets = [], []
        bin_idx, fill = 0, 0
        for i, n in enumerate(pdf["n_tokens"].tolist()):
            if i in heads:
                bin_idx, fill = 0, 0
            elif fill > 0 and fill + n > budget:
                bin_idx += 1
                fill = 0
            bins.append(bin_idx)
            offsets.append(fill)
            fill += int(n)
        return pdf.assign(bin_idx=bins, offset_in_bin=offsets)[
            [key_col, "bucket", "n_tokens", "bin_idx", "offset_in_bin"]
        ]

    return scan_by_key(t, ["bucket"], [key_col], pack, schema)


def packing_stats(packed: DataFrame, budget: int) -> DataFrame:
    """Fill/waste per next-fit bin: (bucket, bin_idx, n_docs, fill_tokens,
    waste_tokens, fill_ratio)."""
    return packed.groupBy("bucket", "bin_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("fill_tokens"),
        (F.lit(budget) - F.sum("n_tokens")).cast("long").alias("waste_tokens"),
        (F.sum("n_tokens") / F.lit(float(budget))).alias("fill_ratio"),
    )
