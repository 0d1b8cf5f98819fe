"""Incremental tier maintenance + retention-tiered read.

Pinned expectations hand-computed from the tiny fixture (reference test
style: literal values, reference: tests/unit/datasets/test_breakfast.py);
sf-scale hash parity lives in the driver oracles (tier_refresh_1h,
tiered_read — the refresh oracle IS the full 1h rebuild, so the
incremental == rebuild contract is hash-checked end-to-end at sf0.01).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aroma_spark.operators.maintenance import (
    incremental_tier_refresh,
    tiered_read,
)
from aroma_spark.operators.normalize import dedup_exact
from aroma_spark.operators.signals import with_signals
from aroma_spark.operators.tiers import reaggregate, rollup_lattice, rollup_tier


def _frames_equal(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_incremental_refresh_equals_full_rebuild(spark, tiny_transcripts):
    t_all = dedup_exact(tiny_transcripts)
    # late batch touches conv a (middle turn -> neighbor inter-time
    # changes) and conv b (tail turn); conv c stays untouched
    late = t_all.where(
        ((F.col("conv_id") == "a") & (F.col("turn_idx") == 2))
        | ((F.col("conv_id") == "b") & (F.col("turn_idx") == 1))
    )
    ontime = t_all.exceptAll(late)
    base = rollup_tier(with_signals(ontime), "hour")
    got = incremental_tier_refresh(t_all, base, late, "hour")
    want = rollup_tier(with_signals(t_all), "hour")
    assert _frames_equal(got, want)


def test_incremental_refresh_fixes_neighbor_intertimes(spark, tiny_transcripts):
    """The case partial-merge would get WRONG: dropping conv a's turn 2
    changes turn 3's inter-time in the base tier; the refresh must
    restore the full-data value (turn 3: 02:10:00 - 00:00:30)."""
    t_all = dedup_exact(tiny_transcripts)
    late = t_all.where((F.col("conv_id") == "a") & (F.col("turn_idx") == 2))
    base = rollup_tier(with_signals(t_all.exceptAll(late)), "hour")
    # base (without turn 2) attributes hour-02's inter_time the same way
    # — the visible difference is hour-00 of conv a: 2 turns, not 3
    base_h0 = base.where(
        (F.col("conv_id") == "a")
        & (F.col("bucket_ts") == "2024-01-01 00:00:00")
    ).collect()[0]
    assert base_h0["n_points"] == 2
    got = incremental_tier_refresh(t_all, base, late, "hour")
    h0 = got.where(
        (F.col("conv_id") == "a")
        & (F.col("bucket_ts") == "2024-01-01 00:00:00")
    ).collect()[0]
    assert h0["n_points"] == 3
    assert h0["sum_latency_us"] == 30_000_000  # 0 + 30e6 + 0 (ts tie)
    assert h0["sum_tool_calls"] == 1


def test_untouched_conversations_pass_through(spark, tiny_transcripts):
    t_all = dedup_exact(tiny_transcripts)
    late = t_all.where(F.col("conv_id") == "a").limit(1)
    base = rollup_tier(with_signals(t_all.exceptAll(late)), "hour")
    got = incremental_tier_refresh(t_all, base, late, "hour")
    # conv c (no late rows) keeps its base tier row exactly
    assert _frames_equal(
        got.where(F.col("conv_id") == "c"),
        base.where(F.col("conv_id") == "c"),
    )


def test_merge_tier_partials_algebra(spark, tiny_transcripts):
    """Splitting one conversation's SIGNAL rows into two batches, rolling
    each up, and merging equals the single-pass tier (the partials are
    algebraic) — the per-batch path of a row-local continuous aggregate.
    Tier buckets are minute-aligned, so a minute reaggregate merges
    without coarsening."""
    sig = with_signals(dedup_exact(tiny_transcripts))
    b1 = rollup_tier(sig.where(F.col("turn_idx") % 2 == 0), "hour")
    b2 = rollup_tier(sig.where(F.col("turn_idx") % 2 == 1), "hour")
    merged = reaggregate(b1.unionByName(b2), "minute")
    assert _frames_equal(merged, rollup_tier(sig, "hour"))


def test_tiered_read_splices_at_day_cutoff(spark, tiny_transcripts):
    tiers = rollup_lattice(with_signals(dedup_exact(tiny_transcripts)))
    out = tiered_read(spark, tiers, "1h", "1d", "1 day").collect()
    # max 1h bucket = 2024-01-03 00:00 -> cutoff day 2024-01-02:
    # conv a (2024-01-01) -> coarse 1d; conv b/c (01-02, 01-03) -> 1h
    by_tier = {}
    for r in out:
        by_tier.setdefault(r["tier"], set()).add(
            (r["conv_id"], str(r["bucket_ts"]))
        )
    assert by_tier["1d"] == {("a", "2024-01-01 00:00:00")}
    assert by_tier["1h"] == {
        ("b", "2024-01-02 10:00:00"),
        ("c", "2024-01-03 00:00:00"),
    }
    # the coarse row carries 1d-tier partials (whole day folded)
    a = [r for r in out if r["tier"] == "1d"][0]
    assert a["n_points"] == 4 and a["sum_tool_calls"] == 1


def test_lattice_parity_all_equal(spark):
    from pyspark.sql import functions as F

    from aroma_spark.operators.maintenance import lattice_parity

    rows = [
        ("a", "2024-01-01 10:00:00", 0, 5, 1),
        ("a", "2024-01-01 11:30:00", 5_400_000_000, 7, 0),
        ("a", "2024-01-02 09:00:00", 77_400_000_000, 3, 1),
        ("b", "2024-01-01 10:30:00", 0, 2, 0),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, ts string, inter_time_us long,"
        " text_len long, tool_call long"
    ).withColumn("ts", F.to_timestamp("ts"))
    r = lattice_parity(df).collect()[0]
    # (a, Jan1), (a, Jan2), (b, Jan1) -> 3 buckets, all paths agree
    assert (r["n_direct"], r["n_via_hour"], r["n_joined"]) == (3, 3, 3)
    assert (r["n_equal"], r["n_mismatch"]) == (3, 0)
    assert (r["n_only_direct"], r["n_only_via"]) == (0, 0)


def test_null_census(spark):
    from aroma_spark.operators.maintenance import null_census

    a = spark.createDataFrame(
        [(1, "x"), (2, None), (3, None)], "id long, v string")
    b = spark.createDataFrame([(1.0,)], "w double")
    out = {(r["table_name"], r["column_name"]): r
           for r in null_census([("ta", "v", a), ("tb", "w", b)]).collect()}
    ta = out[("ta", "v")]
    assert (ta["n_rows"], ta["n_null"]) == (3, 2)
    assert ta["null_share"] == round(2 / 3, 6)
    assert out[("tb", "w")]["n_null"] == 0


def test_freshness_audit(spark):
    from pyspark.sql import functions as F

    from aroma_spark.operators.maintenance import freshness_audit

    df = spark.createDataFrame(
        [("2024-01-01 10:00:00",), ("2024-01-04 09:00:00",)], "ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    r = freshness_audit([("ev", "ts", df)]).collect()[0]
    assert (r["table_name"], r["n_rows"], r["span_days"]) == ("ev", 2, 3)
    assert str(r["min_ts"]).startswith("2024-01-01")


def test_pk_audit(spark):
    from aroma_spark.operators.maintenance import pk_audit

    a = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z")], "id long, v string")
    b = spark.createDataFrame(
        [(1, 1), (1, 2)], "k long, ln int")
    out = {r["table_name"]: r for r in pk_audit(
        [("ta", ["id"], a), ("tb", ["k", "ln"], b)]).collect()}
    ta = out["ta"]
    assert (ta["key_cols"], ta["n_rows"], ta["n_keys"],
            ta["n_dupes"]) == ("id", 3, 2, 1)
    assert ta["dup_share"] == round(1 / 3, 6)
    assert out["tb"]["n_dupes"] == 0


def test_id_density_audit(spark):
    from aroma_spark.operators.maintenance import id_density_audit

    a = spark.createDataFrame([(1,), (2,), (5,)], "id long")
    r = id_density_audit([("ta", "id", a)]).collect()[0]
    assert (r["table_name"], r["n_rows"], r["min_id"], r["max_id"]) == (
        "ta", 3, 1, 5)
    assert r["density"] == 0.6


def test_partition_balance_audit(spark):
    from aroma_spark.operators.maintenance import partition_balance_audit

    rows = [(f"c{i}", j) for i in range(20) for j in range(3)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    out = partition_balance_audit(df).collect()
    assert sum(r["n_turns"] for r in out) == 60
    assert sum(r["n_convs"] for r in out) == 20
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-4
    assert all(0 <= r["bucket"] < 16 for r in out)
