"""Incremental tier maintenance: late-data refresh + retention-tiered reads.

A retention engine at 10^12 turns cannot rebuild a tier because one
micro-batch of late events arrived (out-of-order delivery is the norm
for agent transcripts: a tool result lands minutes after its turn).
TimescaleDB/Materialize call this continuous-aggregate *invalidation*:
track which keys a late batch touches, recompute exactly those, splice
the rest through untouched.

:func:`incremental_tier_refresh` does that. Folding a late batch's own
rollup into the tier with ``tiers.reaggregate`` is exact only for
row-local measures; the engine's headline measure (``inter_time_us``)
is window-derived: a late turn changes the NEXT turn's inter-time.
Refresh therefore recomputes the *affected conversations* from the
authoritative raw table and anti-joins them out of the old tier: the
recompute cost is proportional to the late batch's conversation set,
never the corpus.

100 TB shape: the late batch's distinct conv_id set is small (it is one
micro-batch), so both the semi-join (select affected raw rows) and the
anti-join (drop stale tier rows) broadcast it — the raw table and the
tier are each scanned once map-side, no shuffle of either beyond the
affected slice's own re-windowing. On the day-partitioned warehouse the
semi-join additionally prunes to the late conversations' day range via
min/max (bucket pruning would need a conv-bucketed layout; the broadcast
filter is layout-agnostic).

No reference analog (the reference rebuilds datasets whole, e.g.
src/aroma/datasets/breakfast.py:459-470); mandated by BASELINE.json
north_rule ("resumable from checkpoint", retention tiers). The
incremental == full-recompute equality is oracle-checked end-to-end by
the ``tier_refresh_1h`` driver query (its DuckDB twin IS the full
recompute).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aroma_spark.operators.signals import with_signals
from aroma_spark.operators.tiers import (
    MEASURES,
    TIER_SPECS,
    reaggregate,
    rollup_tier,
)


def affected_conversations(late_transcripts: DataFrame) -> DataFrame:
    """The invalidation set: distinct conv_id of a late batch."""
    return late_transcripts.select("conv_id").distinct()


def incremental_tier_refresh(
    transcripts_all: DataFrame,
    tier: DataFrame,
    late_transcripts: DataFrame,
    unit: str = "hour",
) -> DataFrame:
    """Splice a late batch into a materialized tier, exactly.

    ``transcripts_all`` is the authoritative raw table (on-time + late
    rows); ``tier`` was built before the late rows existed. Affected
    conversations are recomputed from raw (signals re-windowed, so
    neighbor-dependent inter-times are right); untouched conversations
    keep their existing tier rows byte-for-byte. Result == a full
    rebuild of the tier over ``transcripts_all`` — the property the
    ``tier_refresh_1h`` oracle checks.
    """
    hot = F.broadcast(affected_conversations(late_transcripts))
    recomputed = rollup_tier(
        with_signals(transcripts_all.join(hot, "conv_id", "semi")), unit
    )
    untouched = tier.join(hot, "conv_id", "left_anti")
    return untouched.unionByName(recomputed)


def tiered_read(
    spark: SparkSession,
    tiers: dict[str, DataFrame],
    fine: str = "1h",
    coarse: str = "1d",
    horizon: str = "7 days",
) -> DataFrame:
    """Retention-policy read: fine tier inside the horizon, coarse beyond.

    The query every retention engine serves ("recent data at full
    resolution, history downsampled") as one DataFrame: rows from
    ``tiers[fine]`` whose bucket is within ``horizon`` of the corpus'
    last day, rows from ``tiers[coarse]`` before it, tagged with a
    ``tier`` column. The cutoff is derived declaratively from the fine
    tier's own max bucket (an aggregate scalar broadcast into both
    predicates — no driver-side collect), truncated to the coarse unit
    so no coarse bucket straddles the boundary.

    On the day-partitioned warehouse both predicates are partition
    prunes: the fine scan reads only the horizon's days, the coarse scan
    skips them.
    """
    coarse_unit = TIER_SPECS[coarse][0]
    cutoff = F.broadcast(
        tiers[fine].agg(
            F.date_trunc(
                coarse_unit,
                F.max("bucket_ts") - F.expr(f"INTERVAL {horizon}"),
            ).alias("__cutoff")
        )
    )
    recent = (
        tiers[fine]
        .crossJoin(cutoff)
        .where(F.col("bucket_ts") >= F.col("__cutoff"))
        .drop("__cutoff")
        .withColumn("tier", F.lit(fine))
    )
    history = (
        tiers[coarse]
        .crossJoin(cutoff)
        .where(F.col("bucket_ts") < F.col("__cutoff"))
        .drop("__cutoff")
        .withColumn("tier", F.lit(coarse))
    )
    return recent.unionByName(history)


def lattice_parity(signals: DataFrame) -> DataFrame:
    """The continuous-aggregate LATTICE INVARIANT as a runnable audit:
    a day tier re-aggregated from the hour tier must equal the day
    tier rolled up directly from raw — partial sums/mins/maxes are
    associative, so any daylight between the two paths is a bug in
    the rollup discipline (or non-associative state that must not be
    in a tier). Run after every tier rebuild; the report is one row.

    Both paths ride the same (conv_id, bucket) exchanges the lattice
    itself uses; the full-outer join on (conv_id, day) catches
    buckets missing from either side, and every comparison is exact
    int64 (the timestamps compare as values). ``n_mismatch`` MUST be
    0 — the operator is the proof, not just the claim.

    Emits ``n_direct, n_via_hour, n_joined, n_equal, n_mismatch,
    n_only_direct, n_only_via``.
    """
    direct = rollup_tier(signals, "day")
    via = reaggregate(rollup_tier(signals, "hour"), "day")
    d = direct.select(
        F.col("conv_id").alias("d_conv"),
        F.col("bucket_ts").alias("d_bucket"),
        *[F.col(c).alias(f"d_{c}") for c in MEASURES],
    )
    v = via.select(
        F.col("conv_id").alias("v_conv"),
        F.col("bucket_ts").alias("v_bucket"),
        *[F.col(c).alias(f"v_{c}") for c in MEASURES],
    )
    j = d.join(
        v,
        (F.col("d_conv") == F.col("v_conv"))
        & (F.col("d_bucket") == F.col("v_bucket")),
        "full_outer",
    )
    both = F.col("d_conv").isNotNull() & F.col("v_conv").isNotNull()
    eq = both
    for c in MEASURES:
        eq = eq & (F.col(f"d_{c}") == F.col(f"v_{c}"))
    return j.agg(
        F.sum(F.when(F.col("d_conv").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_direct"),
        F.sum(F.when(F.col("v_conv").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_via_hour"),
        F.sum(F.when(both, 1).otherwise(0)).cast("long").alias("n_joined"),
        F.sum(F.when(eq, 1).otherwise(0)).cast("long").alias("n_equal"),
        F.sum(F.when(both & ~eq, 1).otherwise(0))
        .cast("long")
        .alias("n_mismatch"),
        F.sum(
            F.when(F.col("d_conv").isNotNull() & F.col("v_conv").isNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_only_direct"),
        F.sum(
            F.when(F.col("v_conv").isNotNull() & F.col("d_conv").isNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_only_via"),
    )


def null_census(
    frames: "list[tuple[str, str, DataFrame]]",
) -> DataFrame:
    """Null census across the warehouse: for each audited (table,
    column), the row count, null count and null share — the
    data-quality report every ingestion run should publish before
    analysts touch the tables.

    Each table contributes ONE map-side combinable single-row
    aggregate over a one-column pruned scan (ReadSchema shows just
    the audited column); the rows union into a |columns|-row report.
    Counts exact int64; the share is one shared float.

    Emits ``table_name, column_name, n_rows, n_null, null_share``.
    """
    parts = []
    for table_name, column_name, df in frames:
        parts.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.when(F.col(column_name).isNull(), 1).otherwise(0)
                )
                .cast("long")
                .alias("n_null"),
            ).select(
                F.lit(table_name).alias("table_name"),
                F.lit(column_name).alias("column_name"),
                "n_rows",
                "n_null",
                F.expr(
                    "CASE WHEN n_rows > 0 THEN round(CAST(n_null"
                    " AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) END"
                ).alias("null_share"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def freshness_audit(
    frames: "list[tuple[str, str, DataFrame]]",
) -> DataFrame:
    """Freshness audit: per time-bearing table, the min/max event
    time, row count and covered span in whole days — the "is
    yesterday's load actually in?" report.

    One single-row min/max aggregate per table over the pruned
    timestamp column, unioned into a |tables|-row report. All exact
    (timestamps compare as values; the span is an integer datediff).

    Emits ``table_name, n_rows, min_ts, max_ts, span_days``.
    """
    parts = []
    for table_name, ts_col, df in frames:
        parts.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min(ts_col).alias("min_ts"),
                F.max(ts_col).alias("max_ts"),
            ).select(
                F.lit(table_name).alias("table_name"),
                "n_rows",
                "min_ts",
                "max_ts",
                F.datediff(
                    F.date_trunc("day", F.col("max_ts")),
                    F.date_trunc("day", F.col("min_ts")),
                )
                .cast("long")
                .alias("span_days"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pk_audit(
    frames: "list[tuple[str, list[str], DataFrame]]",
) -> DataFrame:
    """Primary-key audit: for each (table, key columns), the row
    count, distinct-key count and duplicate count — the referential
    sanity check that catches double-loaded partitions before any
    join silently fans out.

    One map-side combinable distinct per table on the pruned key
    projection, unioned into a |tables|-row report. Exact int64.

    Emits ``table_name, key_cols, n_rows, n_keys, n_dupes,
    dup_share``.
    """
    parts = []
    for table_name, key_cols, df in frames:
        per_key = df.groupBy(*key_cols).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        parts.append(
            per_key.agg(
                F.sum("c").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
            ).select(
                F.lit(table_name).alias("table_name"),
                F.lit(",".join(key_cols)).alias("key_cols"),
                "n_rows",
                "n_keys",
                (F.col("n_rows") - F.col("n_keys"))
                .cast("long")
                .alias("n_dupes"),
                F.expr(
                    "CASE WHEN n_rows > 0 THEN round(CAST(n_rows"
                    " - n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)"
                    " END"
                ).alias("dup_share"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def id_density_audit(
    frames: "list[tuple[str, str, DataFrame]]",
) -> DataFrame:
    """Surrogate-key density audit: per (table, id column), the row
    count against the occupied id RANGE — density near 1.0 means a
    compact sequence; a sudden drop means deletes, load gaps or a
    runaway generator. Pure min/max/count, so the whole report is
    one tiny aggregate per table.

    Emits ``table_name, id_col, n_rows, min_id, max_id, density``.
    """
    parts = []
    for table_name, id_col, df in frames:
        parts.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min(id_col).cast("long").alias("min_id"),
                F.max(id_col).cast("long").alias("max_id"),
            ).select(
                F.lit(table_name).alias("table_name"),
                F.lit(id_col).alias("id_col"),
                "n_rows",
                "min_id",
                "max_id",
                F.expr(
                    "CASE WHEN max_id >= min_id THEN"
                    " round(CAST(n_rows AS DOUBLE)"
                    " / CAST(max_id - min_id + 1 AS DOUBLE), 6) END"
                ).alias("density"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def partition_balance_audit(
    transcripts: DataFrame, n_buckets: int = 16
) -> DataFrame:
    """Hash-partition balance proof: rows per md5-derived conv_id
    bucket (``conv(substr(md5('part:' || conv_id), 1, 4), 16, 10) %
    n_buckets`` — engine-portable, unlike Spark's internal
    Murmur3), with each bucket's share — the direct evidence that
    the conv_id exchange every per-conversation operator rides
    spreads evenly, and the number to watch when a hot key would
    need salting (operators/tiers.py rollup_tier_salted is the
    remedy this audit triggers).

    ONE map-side combinable aggregate into ``n_buckets`` rows; the
    share is a window over them. Exact int64.

    Emits ``bucket, n_turns, n_convs, share``.
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("part:"), F.col("conv_id"))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    base = transcripts.select(
        (h % F.lit(int(n_buckets))).cast("int").alias("bucket"),
        "conv_id",
    )
    agg = base.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
    )
    # bounded global window: frame is the per-bucket aggregate (bucket
    # keyspace fixed by construction), not the turn table
    agg = agg.withColumn(
        "total_turns",
        F.sum("n_turns").over(Window.partitionBy()).cast("long"),
    )
    return agg.select(
        "bucket",
        "n_turns",
        "n_convs",
        F.expr(
            "round(CAST(n_turns AS DOUBLE) / CAST(total_turns AS DOUBLE), 6)"
        ).alias("share"),
    )
