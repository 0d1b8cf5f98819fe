"""Structured Streaming rollup converges to the batch tier."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aroma_spark.operators.normalize import dedup_exact
from aroma_spark.operators.signals import with_signals
from aroma_spark.operators.tiers import rollup_tier
from aroma_spark.streaming.stream import streaming_rollup

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


@pytest.fixture()
def stream_dir(spark, tiny_transcripts, tmp_path):
    p = str(tmp_path / "in")
    dedup_exact(tiny_transcripts).write.parquet(p)
    return p


def _run_stream(df, tmp_path, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_rollup_matches_batch(spark, tiny_transcripts, stream_dir, tmp_path):
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    _run_stream(streaming_rollup(stream, "1 minute"), tmp_path, "r1m")
    got = spark.sql("select * from r1m")
    want = rollup_tier(with_signals(dedup_exact(tiny_transcripts)), "minute").select(
        "conv_id", "bucket_ts", "n_points", "sum_text_len", "sum_tool_calls",
        "first_ts", "last_ts",
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_streaming_session_window_parity_across_restart(spark, tmp_path):
    """Session state must survive a query restart AND the emitted
    sessions must match the batch sessionizer: conv a's turns arrive in
    two separate availableNow runs over one checkpoint; flush rows
    advance the watermark so closed sessions emit (append mode)."""
    from aroma_spark.operators.sessions import session_stats
    from aroma_spark.streaming.stream import streaming_session_stats

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")

    def append(rows):
        spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts string",
        ).withColumn("ts", F.to_timestamp("ts")).write.mode("append").parquet(in_dir)

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(in_dir)
        q = (
            streaming_session_stats(stream, gap="30 minutes", watermark="0 seconds")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: conv a opens a session; nothing can emit yet
    append([("a", 0, "user", "hi", None, "2024-01-01 00:00:00")])
    run_once()

    # run 2 (new query, same checkpoint): a turn 10 min later must MERGE
    # into run 1's open session — only possible if state was recovered;
    # plus a turn >30m later opening session 2, plus a far-future flush
    append([
        ("a", 1, "tool", "r", "fn_x", "2024-01-01 00:10:00"),
        ("a", 2, "user", "later", None, "2024-01-01 01:00:00"),
        ("zz", 0, "user", "flush1", None, "2024-01-03 00:00:00"),
    ])
    run_once()

    # run 3: another flush pushes the watermark past conv a's sessions
    append([("zz", 1, "user", "flush2", None, "2024-01-05 00:00:00")])
    run_once()

    got = (
        spark.read.parquet(out_dir)
        .where("conv_id = 'a'")
        .select("conv_id", "n_turns", "session_start", "session_end",
                "duration_us", "n_tool_calls")
    )
    batch_rows = spark.createDataFrame(
        [("a", 0, "user", "hi", None, "2024-01-01 00:00:00"),
         ("a", 1, "tool", "r", "fn_x", "2024-01-01 00:10:00"),
         ("a", 2, "user", "later", None, "2024-01-01 01:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    want = session_stats(batch_rows, "30 minutes").select(
        "conv_id", "n_turns", "session_start", "session_end",
        "duration_us", "n_tool_calls",
    )
    assert got.count() == 2  # both conv-a sessions closed and emitted
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_streaming_rollup_1h_matches_batch(spark, tiny_transcripts, stream_dir, tmp_path):
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    _run_stream(streaming_rollup(stream, "1 hour"), tmp_path, "r1h")
    got = spark.sql("select * from r1h")
    want = rollup_tier(with_signals(dedup_exact(tiny_transcripts)), "hour").select(
        "conv_id", "bucket_ts", "n_points", "sum_text_len", "sum_tool_calls",
        "first_ts", "last_ts",
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_streaming_rollup_1d_foreachbatch_matches_batch(
    spark, tiny_transcripts, stream_dir, tmp_path
):
    """foreachBatch micro-batch sink at the widest tier ('1 day'): each
    micro-batch overwrites the sink in complete mode; after availableNow
    drains, the sink equals the batch day tier exactly."""
    out_dir = str(tmp_path / "out_1d")
    n_batches = {"n": 0}

    def sink(batch_df, _batch_id):
        n_batches["n"] += 1
        batch_df.write.mode("overwrite").parquet(out_dir)

    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    q = (
        streaming_rollup(stream, "1 day")
        .writeStream.foreachBatch(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_1d"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert n_batches["n"] >= 1
    got = spark.read.parquet(out_dir)
    want = rollup_tier(with_signals(dedup_exact(tiny_transcripts)), "day").select(
        "conv_id", "bucket_ts", "n_points", "sum_text_len", "sum_tool_calls",
        "first_ts", "last_ts",
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_streaming_locf_matches_batch_gapfill(spark, tiny_transcripts, stream_dir, tmp_path):
    """Streaming LOCF over (conv_id, ts, value=text_len) equals the batch
    gapfill_grid locf on the per-minute last-sample tier: same grid span,
    same carried values, same is_filled flags."""
    from aroma_spark.operators.gapfill import gapfill_grid
    from aroma_spark.streaming.stream import streaming_locf

    stream = (
        spark.readStream.schema(SCHEMA)
        .parquet(stream_dir)
        .select(
            "conv_id",
            "ts",
            F.coalesce(F.length("text"), F.lit(0)).cast("double").alias("value"),
        )
    )
    q = (
        streaming_locf(stream, "1 minute")
        .writeStream.format("memory")
        .queryName("locf")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_locf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select conv_id, bucket_ts, value, locf_value, is_filled from locf")

    # batch twin: last-sample-per-minute tier (greatest ts, ties greatest
    # value — the same rule streaming_locf applies inside a bucket)
    src = dedup_exact(tiny_transcripts).select(
        "conv_id",
        "ts",
        F.coalesce(F.length("text"), F.lit(0)).cast("double").alias("value"),
    )
    tier = (
        src.groupBy("conv_id", F.date_trunc("minute", "ts").alias("bucket_ts"))
        .agg(F.max(F.struct(F.unix_micros("ts").alias("us"), F.col("value").alias("v"))).alias("p"))
        .select("conv_id", "bucket_ts", F.col("p.v").alias("value"))
    )
    want = gapfill_grid(tier, "value", "1 minute", "minute").select(
        "conv_id", "bucket_ts", "value", F.col("locf_value"), "is_filled"
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_streaming_locf_state_survives_restart(spark, tmp_path):
    """Second availableNow run over the same checkpoint resumes LOCF
    state: the gap minutes between run 1's last sample and run 2's new
    sample are synthesized with run 1's carried value."""
    from aroma_spark.streaming.stream import streaming_locf

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    schema = "conv_id string, ts timestamp, value double"
    spark.createDataFrame(
        [("a", "2024-01-01 00:00:10", 5.0)],
        "conv_id string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("append").parquet(in_dir)

    def run():
        # file sink: the fault-tolerant path that supports checkpoint
        # recovery (memory sink does not).
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            streaming_locf(stream, "1 minute")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(
        [("a", "2024-01-01 00:03:40", 9.0)],
        "conv_id string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("append").parquet(in_dir)
    run()

    rows = {
        r.bucket_ts.strftime("%H:%M"): (r.locf_value, r.is_filled)
        for r in spark.read.parquet(out_dir).collect()
    }
    # minutes 00:01 and 00:02 filled with 5.0 from the previous run's
    # state; 00:03 is the real new sample
    assert rows["00:01"] == (5.0, True)
    assert rows["00:02"] == (5.0, True)
    assert rows["00:03"] == (9.0, False)
