"""Streaming/batch parity: each query runs a Structured Streaming job
and its result must equal the batch computation.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aroma_spark.registry import Query
from aroma_spark.registry.sessions import sess_core
from aroma_spark.sources.transcripts import TRANSCRIPTS_SQL, load_table
from aroma_spark.streaming.stream import (
    streaming_locf,
    streaming_rollup,
    streaming_session_stats,
)

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}


# --- streaming/batch parity (round-4 verdict item 8): run the
# Structured Streaming 1m rollup TO COMPLETION over the static
# corpus and hand the driver its materialized result. The events
# table is staged into an 8-file parquet dir and streamed with
# maxFilesPerTrigger=1, so 8 micro-batches genuinely exercise
# incremental aggregation state (driver testdata ships events as a
# single file — one batch would prove nothing about state merges);
# watermark wide open so event-time disorder across micro-batch file
# boundaries can never drop a row; complete-mode memory sink +
# availableNow trigger. The oracle is the plain batch SQL over
# transcripts — hash-exact parity IS the claim that the streaming
# tier converges to the batch tier on a finite prefix. ---
def streaming_rollup_parity(spark: SparkSession, sf: str) -> DataFrame:
    ev_batch = load_table(spark, sf, "events")
    staged = tempfile.mkdtemp(prefix="stream_parity_src_")
    ev_batch.repartition(8).write.mode("overwrite").parquet(staged)
    src = (
        spark.readStream.schema(ev_batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    # same projection as transcripts_from_events (no turn_idx — the
    # windowed rollup never reads it, and row_number over an unbounded
    # stream would need keyed state)
    t = src.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(
            F.col("event_type").isin("click", "purchase"),
            F.col("event_type"),
        ).alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    rolled = streaming_rollup(t, "1 minute", watermark="3650 days")
    name = f"stream_parity_{abs(hash(sf)) % 10**8}"
    ckpt = tempfile.mkdtemp(prefix="stream_parity_ckpt_")
    try:
        (
            rolled.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(staged, ignore_errors=True)
    # memory sink rows survive the stopped query; a plain table read
    # is all the driver needs
    return spark.table(name)


QUERIES["streaming_rollup_parity"] = streaming_rollup_parity
# streaming/batch parity: the oracle is the BATCH 1m tier over the
# same transcript projection (no latency measures — inter-time needs
# keyed state). Hash-exact equality of
# the completed stream against this SQL is the convergence claim.
ORACLE["streaming_rollup_parity"] = f"""WITH t AS ({TRANSCRIPTS_SQL})
SELECT conv_id, date_trunc('minute', ts) AS bucket_ts,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(COALESCE(length(text), 0)) AS BIGINT) AS sum_text_len,
       CAST(sum(CASE WHEN tool IS NOT NULL AND tool <> '' THEN 1 ELSE 0 END) AS BIGINT) AS sum_tool_calls,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM t GROUP BY 1, 2"""


# Same staged-stream drive for the session_window surface: 8
# micro-batches, complete mode (state genuinely merges sessions
# split across file boundaries), hash-compared against the batch
# gap-sessionization SQL. Registered at the tail this round (the
# 50-row window is spoken for); rotates in-window next round — until
# then scripts/validate_oracle.py carries its evidence.
def streaming_sessions_parity(spark: SparkSession, sf: str) -> DataFrame:
    ev_batch = load_table(spark, sf, "events")
    staged = tempfile.mkdtemp(prefix="stream_sess_src_")
    ev_batch.repartition(8).write.mode("overwrite").parquet(staged)
    src = (
        spark.readStream.schema(ev_batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    t = src.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("props").alias("text"),
        F.when(
            F.col("event_type").isin("click", "purchase"),
            F.col("event_type"),
        ).alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    sess = streaming_session_stats(
        t, gap="30 minutes", watermark="3650 days"
    )
    name = f"stream_sess_{abs(hash(sf)) % 10**8}"
    ckpt = tempfile.mkdtemp(prefix="stream_sess_ckpt_")
    try:
        (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(staged, ignore_errors=True)
    return spark.table(name)


QUERIES["streaming_sessions_parity"] = streaming_sessions_parity
# streaming session_window parity: the batch gap-sessionization is
# the ground truth (streaming widens the gap by 1us so the window
# merge rule matches the batch strictly-greater break rule);
# session_idx is unknowable mid-stream, so the twin groups by it but
# does not emit it
ORACLE["streaming_sessions_parity"] = f"""{sess_core}
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us,
       CAST(sum(CASE WHEN tool IS NOT NULL AND tool <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls
FROM s GROUP BY conv_id, session_idx"""


# Third staged-stream parity drive (after the 1m-rollup and
# session-window ones): the stateful applyInPandasWithState LOCF
# gap-fill run TO COMPLETION over the static corpus. Staging is
# range-partitioned on conv_id — each conversation arrives WHOLE
# within one micro-batch, the in-order-arrival contract
# streaming_locf documents (time-ranged staging can split a
# minute bucket across files, and the operator — correctly for a
# stream — will not reopen an emitted bucket); 8 batches still
# drive state persistence across triggers. The oracle is the
# plain batch grid + IGNORE-NULLS LOCF window over transcripts.
def streaming_locf_parity(spark: SparkSession, sf: str) -> DataFrame:
    # deterministic tenth of the conversations: the minute grid
    # is ~60x the hourly one, and parity is per-conversation —
    # a bounded slice proves the same contract at 1/10 the
    # compare cost (the slice rule is an integer predicate both
    # engines state identically)
    ev_batch = load_table(spark, sf, "events").where(
        F.col("user_id") % 10 == 0
    )
    staged = tempfile.mkdtemp(prefix="stream_locf_src_")
    (
        ev_batch.repartitionByRange(8, "user_id")
        .write.mode("overwrite")
        .parquet(staged)
    )
    src = (
        spark.readStream.schema(ev_batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    samples = src.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.length(F.coalesce(F.col("props"), F.lit("")))
        .cast("double")
        .alias("value"),
    )
    filled = streaming_locf(
        samples, "1 minute", watermark="3650 days"
    )
    name = f"stream_locf_{abs(hash(sf)) % 10**8}"
    ckpt = tempfile.mkdtemp(prefix="stream_locf_ckpt_")
    try:
        (
            filled.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(staged, ignore_errors=True)
    return spark.table(name)


QUERIES["streaming_locf_parity"] = streaming_locf_parity
ORACLE["streaming_locf_parity"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
s AS (SELECT conv_id, ts,
        CAST(length(COALESCE(text, '')) AS DOUBLE) AS v
      FROM t WHERE CAST(conv_id AS BIGINT) % 10 = 0),
tb AS (SELECT conv_id, bucket_ts, v AS bv FROM (
         SELECT conv_id,
           make_timestamp((epoch_us(ts) // 60000000) * 60000000)
             AS bucket_ts,
           v,
           row_number() OVER (PARTITION BY conv_id,
             make_timestamp((epoch_us(ts) // 60000000) * 60000000)
             ORDER BY epoch_us(ts) DESC, v DESC) AS rk
         FROM s) WHERE rk = 1),
span AS (SELECT conv_id, min(bucket_ts) mn, max(bucket_ts) mx
         FROM tb GROUP BY conv_id),
grid AS (SELECT conv_id,
           unnest(generate_series(mn, mx, INTERVAL 1 MINUTE))
             AS bucket_ts
         FROM span),
dense AS (SELECT g.conv_id, g.bucket_ts, tb.bv
          FROM grid g LEFT JOIN tb
            ON g.conv_id = tb.conv_id
           AND g.bucket_ts = tb.bucket_ts)
SELECT conv_id, bucket_ts, bv AS value,
       last_value(bv IGNORE NULLS) OVER (PARTITION BY conv_id
         ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING
         AND CURRENT ROW) AS locf_value,
       (bv IS NULL) AS is_filled
FROM dense"""


def oracle() -> dict[str, str]:
    return ORACLE
