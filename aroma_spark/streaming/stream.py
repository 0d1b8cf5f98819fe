"""Structured Streaming variants of the rollup pipeline.

The reference is batch-only (SURVEY §2.8 — all loaders eager/finite,
src/aroma/datasets/breakfast.py:464) and the north_rule is batch too;
streaming here is the engine's forward path for continuously-appended
transcript tables: the same 1m tier, computed incrementally.

- :func:`streaming_rollup`: watermarked windowed aggregation — the
  streaming twin of ``rollup_tier(sig, unit)``. Late turns beyond the
  watermark are dropped by the engine (documented divergence from
  batch, which sees everything); within the watermark results converge
  to the batch tier exactly (same integer partials).
- :func:`streaming_session_stats`: native ``session_window`` sessions.
- :func:`streaming_locf`: gap-fill that carries the last value forward
  as keyed state via ``applyInPandasWithState`` (GroupState timeout:
  none — conversation state is two scalars, bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def streaming_rollup(
    transcripts: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming tier of any width ('1 minute'/'1 hour'/'1 day') over an
    unbounded transcript stream — the streaming twin of the batch
    lattice's tiers (window width replaces date_trunc; tumbling windows
    aligned to the epoch coincide with date_trunc buckets for these
    units).

    Counts/sums are the same algebraic partials as the batch tier (no
    inter-time here — that needs each conversation's previous turn as
    keyed state);
    watermark bounds state: buckets older than it are finalized and
    evicted. Wider tiers hold proportionally FEWER open buckets per
    conversation, so state shrinks as the tier coarsens — at 10^12
    turns the 1d streaming tier's state is one row per (conv, open
    day).
    """
    t = transcripts.withWatermark("ts", watermark)
    return (
        t.groupBy(F.col("conv_id"), F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(F.coalesce(F.length("text"), F.lit(0)))
            .cast("long")
            .alias("sum_text_len"),
            F.sum(
                F.when(
                    F.col("tool").isNotNull() & (F.col("tool") != ""), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("sum_tool_calls"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("bucket_ts"),
            "n_points",
            "sum_text_len",
            "sum_tool_calls",
            "first_ts",
            "last_ts",
        )
    )


def streaming_session_stats(
    transcripts: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``operators.sessions.session_stats``: native
    ``session_window`` aggregation keyed by conversation.

    Boundary parity with batch: the batch rule breaks a session only
    when the inter-turn gap is *strictly greater* than ``gap``
    (sessions.py:33), while ``session_window`` treats a turn landing
    exactly at ``last_ts + gap`` as a new session (window end is
    exclusive) — so the streaming gap is widened by one microsecond,
    making merge-iff-diff<=gap identical in both engines.

    Output matches the batch columns except ``session_idx`` (a global
    per-conversation ordinal is unknowable mid-stream; join parity
    checks on (conv_id, session_start) instead). Sessions emit once the
    watermark passes their close (append mode); state per open session
    is O(1) aggregates, evicted at emission.
    """
    from aroma_spark.operators.sessions import _interval_to_us

    gap_plus = f"{_interval_to_us(gap) + 1} microseconds"
    t = transcripts.withWatermark("ts", watermark)
    return (
        t.groupBy(
            F.col("conv_id"), F.session_window("ts", gap_plus).alias("w")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .cast("long")
            .alias("duration_us"),
            F.sum(
                F.when(
                    (F.col("tool").isNotNull()) & (F.col("tool") != ""), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_tool_calls"),
        )
        .select(
            "conv_id",
            "n_turns",
            "session_start",
            "session_end",
            "duration_us",
            "n_tool_calls",
        )
    )


LOCF_STATE_SCHEMA = "last_bucket_us long, last_value double"
LOCF_OUT_SCHEMA = (
    "conv_id string, bucket_ts timestamp, value double, "
    "locf_value double, is_filled boolean"
)


def streaming_locf(
    samples: DataFrame,
    interval: str = "1 minute",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful streaming gap-fill (LOCF) — the streaming twin of
    :func:`aroma_spark.operators.gapfill.gapfill_grid`'s ``locf_value``.

    Input: a stream of (conv_id, ts, value) samples. Output: one row per
    regular grid bucket per conversation, from the conversation's first
    sample bucket through its latest — synthesized buckets carry the
    last observed value forward (``is_filled`` true, ``value`` NULL).
    Only LOCF is produced: linear interpolation needs the NEXT anchor,
    which an unbounded stream hasn't seen yet; lerp stays batch-only by
    design.

    State per conversation is two scalars (last emitted bucket, last
    value) — bounded. Bucket value =
    the sample with the greatest ts in the bucket (ties: greatest
    value, deterministic). Samples arriving for a bucket at or before
    the last emitted bucket are dropped (documented divergence from
    batch; the checkpointed batch lattice is the exactness path).
    """
    import pandas as pd

    from aroma_spark.operators.sessions import _interval_to_us

    step_us = _interval_to_us(interval)

    def fn(key, pdf_iter, state: GroupState):
        (conv_id,) = key
        last_bucket_us, last_value = (
            state.get if state.exists else (None, None)
        )
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            us = pdf["ts"].astype("datetime64[us]").astype("int64")
            b = (us // step_us) * step_us
            d = (
                pd.DataFrame(
                    {"b": b, "us": us, "v": pdf["value"].astype("float64")}
                )
                .sort_values(["b", "us", "v"])
                .groupby("b", as_index=False)
                .last()  # greatest ts (ties: greatest value) per bucket
            )
            if last_bucket_us is not None:
                d = d[d["b"] > last_bucket_us]
            if not len(d):
                continue
            start = (
                int(d["b"].iloc[0])
                if last_bucket_us is None
                else last_bucket_us + step_us
            )
            grid = pd.RangeIndex(start, int(d["b"].iloc[-1]) + step_us, step_us)
            dense = d.set_index("b").reindex(grid)
            filled = dense["us"].isna()
            locf = dense["v"].copy()
            if last_value is not None:
                locf.iloc[0] = locf.iloc[0] if not filled.iloc[0] else last_value
            locf = locf.ffill()
            yield pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "bucket_ts": pd.to_datetime(grid, unit="us"),
                    "value": dense["v"].to_numpy(),
                    "locf_value": locf.to_numpy(),
                    "is_filled": filled.to_numpy(),
                }
            )
            last_bucket_us = int(grid[-1])
            last_value = float(locf.iloc[-1])
        if last_bucket_us is not None:
            state.update((last_bucket_us, last_value))

    t = samples.withWatermark("ts", watermark)
    return t.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=LOCF_OUT_SCHEMA,
        stateStructType=LOCF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

