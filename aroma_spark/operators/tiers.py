"""Continuous-aggregate tier lattice: raw -> 1m -> 1h -> 1d.

The engine's rollups are *algebraic partials* — sum/count/min/max compose
— so each tier is computed by re-aggregating the next tier down
(partial+final aggregation applied tier-to-tier), never by rescanning the
raw table. At 100 TB this is the difference between scanning 10^12 rows
once vs three times: the 1h tier reads the (already tiny) 1m tier.
The reference has no rollup; its aggregation analogs are the token
Counter (reference: src/aroma/datasets/breakfast.py:621-641) and
row-count metrics (breakfast.py:465) — generalized here per
BASELINE.json north_rule into retention-tier continuous aggregates.

Exactness: every measure is integer (microsecond latencies, lengths,
counts) or min/max — no float accumulation — so re-aggregated tiers match
direct-from-raw computation bit-for-bit ("point-exact").

Skew: hot conversations (Zipf head) concentrate rows on single
(conv_id, bucket) keys. ``rollup_tier_salted`` does the north_rule's
salted two-stage aggregation: stage 1 pre-aggregates on
(conv_id, bucket, salt) spreading a hot key over K reducers; stage 2
merges the K partials. Spark's own partial aggregation already does a
map-side combine; the explicit salt matters when a single reducer-side
(key) group would exceed one task (AQE skew-split handles joins, not
aggregations).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tier -> (date_trunc unit, parent tier)
TIER_SPECS: dict[str, tuple[str, str | None]] = {
    "1m": ("minute", None),
    "1h": ("hour", "1m"),
    "1d": ("day", "1h"),
}
# Tiers another tier re-aggregates: each has two consumers (its own
# readers and its child's aggregate), so these are the ones worth
# materializing.
PARENT_TIERS = frozenset(parent for _, parent in TIER_SPECS.values() if parent)

# The eight lattice partials, each written once: (measure, raw aggregate
# over the signal frame, merge aggregate over a tier's partial column).
# Every merge is associative, so merging partials equals aggregating raw.
_PARTIALS = (
    ("n_points", lambda: F.count(F.lit(1)), F.sum),
    ("sum_latency_us", lambda: F.sum("inter_time_us"), F.sum),
    ("min_latency_us", lambda: F.min("inter_time_us"), F.min),
    ("max_latency_us", lambda: F.max("inter_time_us"), F.max),
    ("sum_text_len", lambda: F.sum("text_len"), F.sum),
    ("sum_tool_calls", lambda: F.sum("tool_call"), F.sum),
    ("first_ts", lambda: F.min("ts"), F.min),
    ("last_ts", lambda: F.max("ts"), F.max),
)

MEASURES = [name for name, _, _ in _PARTIALS]


def _partial_aggs(merge: bool) -> list[Column]:
    """The ``.agg`` list of a tier: raw aggregates over signal columns,
    or (``merge``) merge aggregates over a lower tier's partials. The
    non-timestamp measures are int64."""
    aggs = []
    for name, raw, merge_fn in _PARTIALS:
        agg = merge_fn(name) if merge else raw()
        if not name.endswith("_ts"):
            agg = agg.cast("long")
        aggs.append(agg.alias(name))
    return aggs


def rollup_tier(signals: DataFrame, unit: str = "minute") -> DataFrame:
    """Base rollup from the raw signal frame (one shuffle on conv_id+bucket)."""
    return signals.groupBy(
        "conv_id", F.date_trunc(unit, F.col("ts")).alias("bucket_ts")
    ).agg(*_partial_aggs(merge=False))


def reaggregate(lower: DataFrame, unit: str) -> DataFrame:
    """Merge a lower tier's partials into a coarser bucket — the lattice edge."""
    return lower.groupBy(
        "conv_id", F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts")
    ).agg(*_partial_aggs(merge=True))


def rollup_lattice(
    signals: DataFrame, materialize: bool = True
) -> dict[str, DataFrame]:
    """All tiers; each computed from its parent per TIER_SPECS.

    ``materialize=True`` (default) localCheckpoints each parent tier
    (``PARENT_TIERS``: 1m, 1h) as it is built, so the stated algorithm
    — "each tier re-aggregates the tier below, never the raw table" —
    is also the *physical* execution: a consumer that acts on several
    tiers (the bench counts all three) runs the scan+window+base-rollup
    exactly once, where the lazy chain re-derived the whole prefix per
    action (3 full scans for 3 counts — guide §1.2 "don't compute
    things you throw away"). The leaf tier (1d) has no child, so it
    stays a lazy aggregate over the materialized 1h. Checkpointing is
    per-DataFrame-instance (no CacheManager plan-matching), so every
    invocation still computes from the parquet inputs. On a cluster the
    production analog is the parquet tier warehouse
    (plans/checkpoint.py); in-memory checkpoints are the right default
    for a one-shot multi-tier computation.
    ``materialize=False`` returns the fully lazy chain (plan audits).
    """
    tiers: dict[str, DataFrame] = {}
    for name, (unit, parent) in TIER_SPECS.items():
        tier = (
            rollup_tier(signals, unit)
            if parent is None
            else reaggregate(tiers[parent], unit)
        )
        if materialize and name in PARENT_TIERS:
            tier = tier.localCheckpoint()
        tiers[name] = tier
    return tiers


def rollup_tier_salted(
    signals: DataFrame, unit: str = "minute", n_salts: int = 16
) -> DataFrame:
    """Two-stage salted base rollup for hot conversations.

    Stage 1 groups by (conv_id, bucket, salt=pmod(hash(turn_idx), K)) —
    a hot (conv_id, bucket) spreads over K parallel reducers. Stage 2 is
    the cheap K-way merge. Result is identical to :func:`rollup_tier`
    (integer partials compose exactly); only the physical plan differs.
    """
    salt = F.pmod(F.hash("turn_idx"), F.lit(n_salts)).alias("__salt")
    stage1 = signals.groupBy(
        "conv_id", F.date_trunc(unit, F.col("ts")).alias("bucket_ts"), salt
    ).agg(*_partial_aggs(merge=False))
    return stage1.groupBy("conv_id", "bucket_ts").agg(*_partial_aggs(merge=True))


def latency_percentiles(
    signals: DataFrame, unit: str = "day", approx: bool = False
) -> DataFrame:
    """Per (conv_id, bucket) latency percentiles p50/p95/p99.

    ``approx=False`` uses Spark's exact interpolated ``percentile``
    (sort-based; verified bit-identical to DuckDB quantile_cont) — the
    parity path. ``approx=True`` switches to ``percentile_approx``
    (t-digest-like sketch, mergeable, bounded memory) — the 100 TB path,
    where an exact per-group sort of a hot conversation is the skew
    hazard the sketch removes.
    """
    pct = (
        (lambda c, p: F.percentile_approx(c, p, 10_000))
        if approx
        else (lambda c, p: F.percentile(c, F.lit(p)))
    )
    return signals.groupBy(
        "conv_id", F.date_trunc(unit, F.col("ts")).alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        pct(F.col("inter_time_us"), 0.5).alias("p50_latency_us"),
        pct(F.col("inter_time_us"), 0.95).alias("p95_latency_us"),
        pct(F.col("inter_time_us"), 0.99).alias("p99_latency_us"),
    )


def retention_prune(tier: DataFrame, keep_after: str) -> DataFrame:
    """Retention = tier-scoped pruning: drop buckets older than the horizon.

    On the partitioned warehouse (days(ts)) this predicate prunes whole
    partitions at scan time — no data read outside the horizon.
    """
    return tier.where(F.col("bucket_ts") >= F.to_timestamp(F.lit(keep_after)))


def reaggregate_ohlc(lower: DataFrame, unit: str) -> DataFrame:
    """Compose OHLC partials into a coarser bucket: open-of-opens by min
    turn, close-of-closes by max turn, min/max fold — the same exact
    re-aggregation algebra as the main lattice (requires a lower tier
    built with ``keep_partials=True``)."""
    return (
        lower.groupBy(
            "conv_id", F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts")
        )
        .agg(
            F.sum("n_points").cast("long").alias("n_points"),
            F.min("__o").alias("__o"),
            F.max("__c").alias("__c"),
            F.min("low").cast("long").alias("low"),
            F.max("high").cast("long").alias("high"),
        )
    )


def ohlc_finalize(tier: DataFrame) -> DataFrame:
    """Strip the (turn, value) partial structs into plain open/close."""
    return tier.select(
        "conv_id",
        "bucket_ts",
        "n_points",
        F.col("__o.v").alias("open"),
        F.col("__c.v").alias("close"),
        "low",
        "high",
    )


def rollup_ohlc(
    signals: DataFrame,
    unit: str = "hour",
    value_col: str = "inter_time_us",
    keep_partials: bool = False,
) -> DataFrame:
    """OHLC-style tier: first/last/min/max of ``value_col`` per
    (conversation, bucket) under the stable turn order — the candlestick
    aggregate every time-series store ships for downsampled charting.

    Open/close are argmin/argmax over the UNIQUE per-conversation
    ``turn_idx`` (min/max of a (turn_idx, value) struct — deterministic
    under any partitioning, unlike bare first()/last(), which are
    order-dependent in a shuffle). Composable across tiers the same way
    as the main lattice: open-of-opens by min turn, close-of-closes by
    max turn — all partials are (turn_idx, value) pairs; pass
    ``keep_partials=True`` to retain them for :func:`reaggregate_ohlc`,
    then :func:`ohlc_finalize` for the user-facing shape.
    """
    v = F.col(value_col).cast("long")
    pair = F.struct(F.col("turn_idx").cast("long").alias("t"), v.alias("v"))
    tier = (
        signals.groupBy(
            "conv_id", F.date_trunc(unit, F.col("ts")).alias("bucket_ts")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.min(pair).alias("__o"),
            F.max(pair).alias("__c"),
            F.min(v).cast("long").alias("low"),
            F.max(v).cast("long").alias("high"),
        )
    )
    return tier if keep_partials else ohlc_finalize(tier)


def top_convs_per_bucket(tier: DataFrame, n: int = 5) -> DataFrame:
    """Heavy hitters: the top-``n`` conversations by point count per time
    bucket (ties broken by conv_id ascending — deterministic on every
    engine).

    One shuffle on bucket_ts; Spark's WindowGroupLimit rewrite (rank
    filter pushdown, Spark 3.5+) truncates each partition to the top-n
    map-side before the exchange, so a bucket with millions of
    conversations never materializes a full sort on the reduce side —
    verified in PLANS.md. The observability staple ("which conversations
    dominate this hour").
    """
    from pyspark.sql import Window

    w = Window.partitionBy("bucket_ts").orderBy(
        F.desc("n_points"), F.asc("conv_id")
    )
    return (
        tier.select(
            "conv_id",
            "bucket_ts",
            "n_points",
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .where(F.col("rank") <= n)
    )


def latency_histogram(
    signals: DataFrame, unit: str = "hour", value_col: str = "inter_time_us"
) -> DataFrame:
    """Power-of-two latency histogram per time bucket — the heatmap
    behind latency observability UIs, downsampled like any other tier.

    Bin = number of binary digits of the value (floor(log2(v))+1 for
    v>0; 0 for v=0), computed by exact integer->binary string length —
    no float log2, so the bin edges are bit-exact on every engine.
    Counts are integers: re-aggregation to coarser time buckets is
    exact (sum of counts), same algebra as the main lattice.
    """
    v = F.col(value_col).cast("long")
    bin_col = (
        F.when(v <= 0, F.lit(0))
        .otherwise(F.length(F.conv(v.cast("string"), 10, 2)))
        .cast("int")
    )
    return (
        signals.groupBy(
            F.date_trunc(unit, F.col("ts")).alias("bucket_ts"),
            bin_col.alias("bin"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    )


def histogram_quantiles(
    hist: DataFrame,
    unit: str = "day",
    probs: tuple[tuple[int, int], ...] = ((1, 2), (9, 10), (99, 100)),
) -> DataFrame:
    """Quantile estimates from MERGED power-of-two histograms — the
    sketch-rollup path for percentiles at retention-tier granularity.

    Exact percentiles need the raw rows; at 100 TB the raw tier ages
    out, so coarse-tier percentiles must come from a mergeable sketch.
    The power-of-two histogram (:func:`latency_histogram`) IS such a
    sketch: counts are integers, merging finer buckets into coarser ones
    is a plain sum, and the quantile estimate is a deterministic
    interpolation inside the hit bin — every step integer-exact except
    one final division, so the Spark plan and the DuckDB twin agree
    bit-for-bit (same discipline as the main lattice; relative error is
    bounded by the bin width, a factor of 2, the usual log-histogram
    trade).

    ``probs`` are exact fractions (num, den) — the target rank is
    r = ceil(p * total) computed as (num*total + den - 1) DIV den in
    int64, never through a float. Inside the hit bin
    [lo, hi] = [2^(b-1), 2^b - 1] (bin 0 = {0}), the estimate places
    rank r uniformly: lo + (hi-lo) * (r - cum_before - 1) / max(n-1, 1).

    Input: a :func:`latency_histogram` frame at any finer unit.
    Output: one row per coarse bucket with total points and one column
    per requested quantile (p50/p90/p99 for the defaults).

    Physical shape: one aggregation merging fine buckets into coarse
    (map-side combined), one window pass per coarse bucket over a few
    dozen bins, one tiny final pivot-aggregation. The bin keyspace is
    bounded (<= 64 bins per bucket) regardless of corpus size.
    """
    merged = hist.groupBy(
        F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts"),
        "bin",
    ).agg(F.sum("n_points").cast("long").alias("n"))

    from pyspark.sql import Window

    bw = Window.partitionBy("bucket_ts").orderBy("bin")
    tot_w = Window.partitionBy("bucket_ts")
    cum = F.sum("n").over(bw).cast("long")
    binned = merged.select(
        "bucket_ts",
        "bin",
        "n",
        cum.alias("cum"),
        (cum - F.col("n")).alias("cum_before"),
        F.sum("n").over(tot_w).cast("long").alias("total"),
    )

    lo = F.when(
        F.col("bin") == 0, F.lit(0).cast("long")
    ).otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), bin - 1)"))
    hi = F.when(
        F.col("bin") == 0, F.lit(0).cast("long")
    ).otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), bin) - 1"))

    aggs = [F.max("total").alias("total_points")]
    for num, den in probs:
        label = f"p{100 * num // den}"
        # integer ceil via DIV — never through a double divide+cast
        r = F.expr(
            f"CAST(({int(num)} * total + {int(den) - 1}) DIV {int(den)} AS BIGINT)"
        )
        r = F.greatest(r, F.lit(1).cast("long"))
        hit = (F.col("cum_before") < r) & (r <= F.col("cum"))
        # NOT rounded: every input is an exact int64 and the combination
        # is one mult + one div + one add (each correctly rounded), so
        # the doubles are already bit-identical across engines — while
        # round(x, 6) at this magnitude (~1e11 µs) is itself engine-
        # divergent (x * 1e6 overflows 2^53 in DuckDB's scale-and-divide
        # rounding; Spark's BigDecimal path keeps the exact decimal)
        est = (
            lo.cast("double")
            + (hi - lo).cast("double")
            * (r - F.col("cum_before") - 1).cast("double")
            / F.when(F.col("n") > 1, F.col("n") - 1)
            .otherwise(F.lit(1))
            .cast("double")
        )
        aggs.append(F.max(F.when(hit, est)).alias(label))
    return binned.groupBy("bucket_ts").agg(*aggs)
