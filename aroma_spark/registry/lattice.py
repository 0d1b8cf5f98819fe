"""The raw -> 1m -> 1h -> 1d tier lattice and the queries read straight
off it: signals, tier rollups, OHLC, percentiles and histograms,
gap-fill, tier maintenance and the codec round trip.

``SIG_SQL`` is the DuckDB derivation of the signal frame that every
signal-based twin in the registry starts from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aroma_spark.operators.codec_ops import codec_roundtrip
from aroma_spark.operators.gapfill import gapfill_grid, interp_linear_hourly, interp_sql
from aroma_spark.operators.maintenance import (
    incremental_tier_refresh,
    lattice_parity,
    tiered_read,
)
from aroma_spark.operators.signals import (
    signals_padded_export,
    with_signals,
    with_signals_chunked,
)
from aroma_spark.operators.tiers import (
    histogram_quantiles,
    latency_histogram,
    latency_percentiles,
    ohlc_finalize,
    reaggregate,
    reaggregate_ohlc,
    retention_prune,
    rollup_lattice,
    rollup_ohlc,
    rollup_tier,
    rollup_tier_salted,
    top_convs_per_bucket,
)
from aroma_spark.registry import Query
from aroma_spark.sources.transcripts import (
    TRANSCRIPTS_SQL,
    signals_from_events,
    transcripts_from_events,
)

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}

SIG_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
sig AS (
  SELECT conv_id, turn_idx, role, text, tool, ts,
         COALESCE(epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx), 0) AS inter_time_us,
         CAST(COALESCE(length(text), 0) AS BIGINT) AS text_len,
         CAST(CASE WHEN tool IS NOT NULL AND tool <> '' THEN 1 ELSE 0 END AS BIGINT) AS tool_call
  FROM t
)
""".strip()


def _signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused single-window derivation (r6 optimization): identical rows
    # to with_signals(transcripts_from_events(...)) — oracle-verified —
    # with one Sort instead of two and text_len computed pre-exchange
    return signals_from_events(spark, sf_dir)


def _rollup_sql(unit: str) -> str:
    return f"""{SIG_SQL}
SELECT conv_id, date_trunc('{unit}', ts) AS bucket_ts,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(inter_time_us) AS BIGINT) AS sum_latency_us,
       CAST(min(inter_time_us) AS BIGINT) AS min_latency_us,
       CAST(max(inter_time_us) AS BIGINT) AS max_latency_us,
       CAST(sum(text_len) AS BIGINT) AS sum_text_len,
       CAST(sum(tool_call) AS BIGINT) AS sum_tool_calls,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM sig GROUP BY conv_id, date_trunc('{unit}', ts)"""


def _tier_query(tier_name: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        # tiers above 1m are re-aggregated from the tier below (the
        # lattice path); the oracle recomputes directly from raw rows —
        # a match proves the partial-composition is point-exact.
        # single-tier consumer: lazy chain (no eager materialization)
        return rollup_lattice(_signals(spark, sf_dir), materialize=False)[
            tier_name
        ]

    return q


# --- core transcript pipeline (SURVEY §2.2/2.5: P-series, W1/W2) ---
QUERIES["signals"] = lambda spark, sf: _signals(spark, sf).select(
    "conv_id", "turn_idx", "role", "text", "tool", "ts",
    "inter_time_us", "text_len", "tool_call",
)
ORACLE["signals"] = f"{SIG_SQL}\nSELECT * FROM sig"


def signals_chunked(spark: SparkSession, sf: str) -> DataFrame:
    return with_signals_chunked(transcripts_from_events(spark, sf)).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "inter_time_us", "text_len", "tool_call",
    )


# two-stage hot-key window path; same oracle as `signals`
QUERIES["signals_chunked"] = signals_chunked
ORACLE["signals_chunked"] = ORACLE["signals"]

QUERIES["rollup_1m"] = _tier_query("1m")
ORACLE["rollup_1m"] = _rollup_sql("minute")

QUERIES["rollup_1h"] = _tier_query("1h")
ORACLE["rollup_1h"] = _rollup_sql("hour")

QUERIES["rollup_1d"] = _tier_query("1d")
ORACLE["rollup_1d"] = _rollup_sql("day")


# weekly tier: re-aggregated from the materialized 1d tier (weeks
# align to day boundaries, so the composition stays point-exact);
# oracle recomputes directly from raw rows
def rollup_1w(spark: SparkSession, sf: str) -> DataFrame:
    return reaggregate(
        rollup_lattice(_signals(spark, sf), materialize=False)["1d"],
        "week",
    )


QUERIES["rollup_1w"] = rollup_1w
ORACLE["rollup_1w"] = _rollup_sql("week")

QUERIES["rollup_1m_salted"] = lambda spark, sf: rollup_tier_salted(
    _signals(spark, sf), "minute", n_salts=8
)
ORACLE["rollup_1m_salted"] = _rollup_sql("minute")


def gapfill_1h(spark: SparkSession, sf: str) -> DataFrame:
    tier = rollup_lattice(_signals(spark, sf), materialize=False)["1h"]
    tier = tier.withColumn(
        "mean_latency_us",
        F.col("sum_latency_us").cast("double") / F.col("n_points"),
    )
    return gapfill_grid(tier, "mean_latency_us", "1 hour", "hour").select(
        "conv_id", "bucket_ts", "value", "locf_value", "lerp_value", "is_filled"
    )


QUERIES["gapfill_1h"] = gapfill_1h
ORACLE["gapfill_1h"] = f"""{SIG_SQL},
tier AS (
  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
         CAST(sum(inter_time_us) AS DOUBLE) / count(*) AS value
  FROM sig GROUP BY 1, 2
),
span AS (SELECT conv_id, min(bucket_ts) mn, max(bucket_ts) mx FROM tier GROUP BY 1),
grid AS (
  SELECT conv_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket_ts
  FROM span
),
dense AS (
  SELECT g.conv_id, g.bucket_ts, s.value
  FROM grid g LEFT JOIN tier s ON g.conv_id = s.conv_id AND g.bucket_ts = s.bucket_ts
),
w AS (
  SELECT conv_id, bucket_ts, value,
    last_value(value IGNORE NULLS) OVER (PARTITION BY conv_id ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    last_value(CASE WHEN value IS NOT NULL THEN CAST(epoch_us(bucket_ts) AS DOUBLE) END IGNORE NULLS) OVER (PARTITION BY conv_id ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
    first_value(value IGNORE NULLS) OVER (PARTITION BY conv_id ORDER BY bucket_ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(CASE WHEN value IS NOT NULL THEN CAST(epoch_us(bucket_ts) AS DOUBLE) END IGNORE NULLS) OVER (PARTITION BY conv_id ORDER BY bucket_ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM dense
)
SELECT conv_id, bucket_ts, value,
       prev_v AS locf_value,
       CASE WHEN value IS NOT NULL THEN value
            WHEN prev_v IS NULL THEN next_v
            WHEN next_v IS NULL THEN prev_v
            WHEN next_t = prev_t THEN prev_v
            ELSE prev_v + (next_v - prev_v) * (CAST(epoch_us(bucket_ts) AS DOUBLE) - prev_t) / (next_t - prev_t)
       END AS lerp_value,
       (value IS NULL) AS is_filled
FROM w"""

# codec identity through Gorilla + delta-of-delta blobs (§4.2.2)
# assume_clustered: _signals comes straight off the conv_id window —
# already hash-partitioned by conv_id and sorted by (conv_id, ts) —
# so the encoder skips its own repartition+sort (r6; same rows)
QUERIES["codec_roundtrip"] = lambda spark, sf: codec_roundtrip(
    _signals(spark, sf), assume_clustered=True
)
ORACLE["codec_roundtrip"] = f"""{SIG_SQL}
SELECT conv_id, CAST(ts AS DATE) AS day,
       CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, CAST(ts AS DATE) ORDER BY turn_idx) - 1 AS BIGINT) AS seq_idx,
       ts, inter_time_us
FROM sig"""


# --- percentile rollups (exact; approx variant is the scale path) ---
def latency_pct(spark: SparkSession, sf: str) -> DataFrame:
    return latency_percentiles(_signals(spark, sf), "day", approx=False)


QUERIES["latency_percentiles_1d"] = latency_pct
ORACLE["latency_percentiles_1d"] = f"""{SIG_SQL}
SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
       CAST(count(*) AS BIGINT) AS n_points,
       quantile_cont(inter_time_us, 0.5) AS p50_latency_us,
       quantile_cont(inter_time_us, 0.95) AS p95_latency_us,
       quantile_cont(inter_time_us, 0.99) AS p99_latency_us
FROM sig GROUP BY conv_id, date_trunc('day', ts)"""


# --- OHLC tier: first/last/min/max latency per (conv, hour) under
# the stable turn order (argmin/argmax over unique turn_idx) ---
def ohlc_1h(spark: SparkSession, sf: str) -> DataFrame:
    return rollup_ohlc(_signals(spark, sf), "hour")


QUERIES["ohlc_1h"] = ohlc_1h
ORACLE["ohlc_1h"] = f"""{SIG_SQL}
SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(arg_min(inter_time_us, turn_idx) AS BIGINT) AS open,
       CAST(arg_max(inter_time_us, turn_idx) AS BIGINT) AS close,
       CAST(min(inter_time_us) AS BIGINT) AS low,
       CAST(max(inter_time_us) AS BIGINT) AS high
FROM sig GROUP BY conv_id, date_trunc('hour', ts)"""


# composition proof: the 1d OHLC re-aggregated from materialized 1h
# partials must equal the oracle's direct day computation (same
# point-exactness argument as the main lattice)
def ohlc_1d_from_1h(spark: SparkSession, sf: str) -> DataFrame:
    h = rollup_ohlc(_signals(spark, sf), "hour", keep_partials=True)
    return ohlc_finalize(reaggregate_ohlc(h, "day"))


QUERIES["ohlc_1d_from_1h"] = ohlc_1d_from_1h
ORACLE["ohlc_1d_from_1h"] = f"""{SIG_SQL}
SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(arg_min(inter_time_us, turn_idx) AS BIGINT) AS open,
       CAST(arg_max(inter_time_us, turn_idx) AS BIGINT) AS close,
       CAST(min(inter_time_us) AS BIGINT) AS low,
       CAST(max(inter_time_us) AS BIGINT) AS high
FROM sig GROUP BY conv_id, date_trunc('day', ts)"""


# --- power-of-two latency histogram per hour (exact integer bins) ---
def latency_hist_1h(spark: SparkSession, sf: str) -> DataFrame:
    return latency_histogram(_signals(spark, sf), "hour")


QUERIES["latency_hist_1h"] = latency_hist_1h
# bin = binary digit count of the value (floor(log2)+1), v<=0 -> 0:
# exact integer formatting on both engines, no float log
ORACLE["latency_hist_1h"] = f"""{SIG_SQL}
SELECT date_trunc('hour', ts) AS bucket_ts,
       CAST(CASE WHEN inter_time_us <= 0 THEN 0
            ELSE length(format('{{:b}}', inter_time_us)) END AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_points
FROM sig GROUP BY 1, 2"""


# --- incremental tier maintenance (late-data invalidation): the 1h
# tier is built WITHOUT a deterministic 12.5% "late" slice
# (md5('late:'||conv||':'||turn) first hex in 0..1), then the late
# slice is spliced in via incremental_tier_refresh — affected
# conversations recomputed from raw (inter-times re-windowed),
# untouched conversations' tier rows passed through. The oracle is
# the FULL-recompute 1h rollup: incremental == rebuild, exactly.
def tier_refresh_1h(spark: SparkSession, sf: str) -> DataFrame:
    t_all = transcripts_from_events(spark, sf)
    late_flag = F.substring(
        F.md5(
            F.concat(
                F.lit("late:"),
                F.col("conv_id"),
                F.lit(":"),
                F.col("turn_idx").cast("string"),
            )
        ),
        1,
        1,
    ).isin("0", "1")
    base = rollup_tier(with_signals(t_all.where(~late_flag)), "hour")
    return incremental_tier_refresh(
        t_all, base, t_all.where(late_flag), "hour"
    )


QUERIES["tier_refresh_1h"] = tier_refresh_1h
# incremental refresh == full rebuild: the oracle IS the full 1h
# recompute (the whole point of the invalidation contract)
ORACLE["tier_refresh_1h"] = _rollup_sql("hour")


# --- retention-policy read: 1h resolution inside the trailing 7-day
# horizon (anchored at the 1h tier's max bucket, truncated to day),
# 1d beyond it, tagged with a tier column — the fine/coarse splice
# every retention engine serves; cutoff derived declaratively (no
# collect), both predicates partition prunes on the warehouse
def tiered_read_q(spark: SparkSession, sf: str) -> DataFrame:
    return tiered_read(
        spark, rollup_lattice(_signals(spark, sf)), "1h", "1d", "7 days"
    )


QUERIES["tiered_read"] = tiered_read_q
# retention splice: 1h inside the 7-day horizon (anchored at the 1h
# tier's max bucket, day-truncated), 1d beyond
ORACLE["tiered_read"] = f"""{SIG_SQL},
h AS (SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
        CAST(count(*) AS BIGINT) AS n_points,
        CAST(sum(inter_time_us) AS BIGINT) AS sum_latency_us,
        CAST(min(inter_time_us) AS BIGINT) AS min_latency_us,
        CAST(max(inter_time_us) AS BIGINT) AS max_latency_us,
        CAST(sum(text_len) AS BIGINT) AS sum_text_len,
        CAST(sum(tool_call) AS BIGINT) AS sum_tool_calls,
        min(ts) AS first_ts, max(ts) AS last_ts
      FROM sig GROUP BY 1, 2),
d AS (SELECT conv_id, date_trunc('day', bucket_ts) AS bucket_ts,
        CAST(sum(n_points) AS BIGINT) AS n_points,
        CAST(sum(sum_latency_us) AS BIGINT) AS sum_latency_us,
        CAST(min(min_latency_us) AS BIGINT) AS min_latency_us,
        CAST(max(max_latency_us) AS BIGINT) AS max_latency_us,
        CAST(sum(sum_text_len) AS BIGINT) AS sum_text_len,
        CAST(sum(sum_tool_calls) AS BIGINT) AS sum_tool_calls,
        min(first_ts) AS first_ts, max(last_ts) AS last_ts
      FROM h GROUP BY 1, 2),
c AS (SELECT date_trunc('day', max(bucket_ts) - INTERVAL 7 DAY) AS cutoff
      FROM h)
SELECT h.*, '1h' AS tier FROM h, c WHERE h.bucket_ts >= c.cutoff
UNION ALL
SELECT d.*, '1d' AS tier FROM d, c WHERE d.bucket_ts < c.cutoff"""


# --- heavy hitters: top-5 conversations by point count per hour
# (WindowGroupLimit truncates partitions map-side before the shuffle)
def top_convs_1h(spark: SparkSession, sf: str) -> DataFrame:
    return top_convs_per_bucket(
        rollup_lattice(_signals(spark, sf), materialize=False)["1h"], 5
    )


QUERIES["top_convs_1h"] = top_convs_1h
ORACLE["top_convs_1h"] = f"""{SIG_SQL},
h AS (SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
        CAST(count(*) AS BIGINT) AS n_points
      FROM sig GROUP BY 1, 2),
r AS (SELECT conv_id, bucket_ts, n_points,
        CAST(row_number() OVER (PARTITION BY bucket_ts
             ORDER BY n_points DESC, conv_id) AS BIGINT) AS rank
      FROM h)
SELECT conv_id, bucket_ts, n_points, rank FROM r WHERE rank <= 5"""


# --- calendar month tier: re-aggregated from the materialized 1d
# tier (months align to day boundaries -> composition point-exact);
# oracle recomputes directly from raw rows
def rollup_1mo(spark: SparkSession, sf: str) -> DataFrame:
    return reaggregate(
        rollup_lattice(_signals(spark, sf), materialize=False)["1d"],
        "month",
    )


QUERIES["rollup_1mo"] = rollup_1mo
ORACLE["rollup_1mo"] = _rollup_sql("month")


# --- sketch-rollup percentiles: hourly power-of-two histograms
# merged to day, quantiles interpolated from the merged bins — the
# percentile path once the raw tier has aged out
def hist_quantiles_1d(spark: SparkSession, sf: str) -> DataFrame:
    return histogram_quantiles(
        latency_histogram(_signals(spark, sf), "hour"), "day"
    )


QUERIES["hist_quantiles_1d"] = hist_quantiles_1d

# sketch-rollup percentiles: same bin math as latency_hist_1h,
# merged to day; rank = exact integer ceil, estimate = one double
# interpolation inside the hit bin (mirrors tiers.histogram_quantiles)
# not rounded — see tiers.histogram_quantiles: round(x, 6) at 1e11
# magnitude is engine-divergent (DuckDB's scale-by-1e6 overflows
# 2^53), while the unrounded expression tree is already bit-exact
_hq_est = (
    "(CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE)"
    " * CAST({r} - cum_before - 1 AS DOUBLE)"
    " / CAST(CASE WHEN n > 1 THEN n - 1 ELSE 1 END AS DOUBLE))"
)

_hq_r = "GREATEST(({num} * total + {dm1}) // {den}, 1)"

_hq_cols = ", ".join(
    "max(CASE WHEN cum_before < {r} AND {r} <= cum THEN {est} END)"
    " AS p{lbl}".format(
        r=_hq_r.format(num=num, dm1=den - 1, den=den),
        est=_hq_est.format(r=_hq_r.format(num=num, dm1=den - 1, den=den)),
        lbl=100 * num // den,
    )
    for num, den in ((1, 2), (9, 10), (99, 100))
)

ORACLE["hist_quantiles_1d"] = f"""{SIG_SQL},
h AS (
  SELECT date_trunc('day', ts) AS bucket_ts,
         CAST(CASE WHEN inter_time_us <= 0 THEN 0
              ELSE length(format('{{:b}}', inter_time_us)) END AS INT) AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM sig GROUP BY 1, 2
),
b AS (
  SELECT bucket_ts, bin, n,
         CAST(sum(n) OVER (PARTITION BY bucket_ts ORDER BY bin) AS BIGINT) AS cum,
         CAST(sum(n) OVER (PARTITION BY bucket_ts ORDER BY bin) - n AS BIGINT) AS cum_before,
         CAST(sum(n) OVER (PARTITION BY bucket_ts) AS BIGINT) AS total,
         CASE WHEN bin = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(1 AS BIGINT) << (bin - 1) END AS lo,
         CASE WHEN bin = 0 THEN CAST(0 AS BIGINT)
              ELSE (CAST(1 AS BIGINT) << bin) - 1 END AS hi
  FROM h
)
SELECT bucket_ts, CAST(max(total) AS BIGINT) AS total_points, {_hq_cols}
FROM b GROUP BY bucket_ts"""


# --- retention: tier-scoped pruning (north_rule retention tiers) ---
def retention_1d(spark: SparkSession, sf: str) -> DataFrame:
    tiers = rollup_lattice(_signals(spark, sf), materialize=False)
    return retention_prune(tiers["1d"], "2024-01-15")


QUERIES["retention_1d"] = retention_1d
ORACLE["retention_1d"] = (
    _rollup_sql("day") + "\nHAVING date_trunc('day', ts) >= TIMESTAMP '2024-01-15'"
)


# --- parity export (W3 ragged->padded, hashable long form) ---
def padded_export(spark: SparkSession, sf: str) -> DataFrame:
    # pad with the reference's missing constant -1 (breakfast.py:64)
    # and posexplode to scalar rows so the oracle can hash values.
    padded = signals_padded_export(
        transcripts_from_events(spark, sf), padding_value=-1.0
    )
    return padded.select(
        "conv_id",
        "n_turns",
        F.posexplode("times_padded").alias("pos", "t_sec"),
    ).select(
        "conv_id",
        "n_turns",
        F.col("pos").cast("long").alias("pos"),
        "t_sec",
    )


QUERIES["padded_export"] = padded_export
# ragged->padded parity: grid of (conv, pos in [0, global max)) with
# -1.0 pad; t_sec = epoch_us/1e6 is exact (epoch µs < 2^53).
ORACLE["padded_export"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
g AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns FROM t GROUP BY conv_id),
m AS (SELECT max(n_turns) AS max_len FROM g),
p AS (SELECT conv_id, n_turns, unnest(range(0, (SELECT max_len FROM m))) AS pos FROM g),
v AS (SELECT conv_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS BIGINT) AS pos,
             CAST(epoch_us(ts) AS DOUBLE) / 1e6 AS t_sec
      FROM t)
SELECT p.conv_id, p.n_turns, CAST(p.pos AS BIGINT) AS pos,
       COALESCE(v.t_sec, -1.0) AS t_sec
FROM p LEFT JOIN v ON p.conv_id = v.conv_id AND p.pos = v.pos"""


def interp_linear_1h(spark: SparkSession, sf: str) -> DataFrame:
    return interp_linear_hourly(_signals(spark, sf))


QUERIES["interp_linear_1h"] = interp_linear_1h
ORACLE["interp_linear_1h"] = f"""{SIG_SQL},
hourly AS (SELECT date_trunc('hour', ts) AS hour_ts,
             CAST(count(*) AS BIGINT) AS n_obs
           FROM sig GROUP BY 1),
span AS (SELECT min(hour_ts) AS mn, max(hour_ts) AS mx FROM hourly),
grid AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
           AS hour_ts FROM span),
dense AS (SELECT g.hour_ts, h.n_obs
          FROM grid g LEFT JOIN hourly h ON g.hour_ts = h.hour_ts),
mk AS (SELECT hour_ts, n_obs,
         last_value(n_obs IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN n_obs IS NOT NULL THEN hour_ts END
           IGNORE NULLS) OVER wp AS pts,
         first_value(n_obs IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN n_obs IS NOT NULL THEN hour_ts END
           IGNORE NULLS) OVER wn AS nts
       FROM dense
       WINDOW wp AS (ORDER BY hour_ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              wn AS (ORDER BY hour_ts
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
tm AS (SELECT hour_ts, n_obs, pv, nv,
         CAST(epoch_us(hour_ts) - epoch_us(pts) AS BIGINT) AS dt_us,
         CAST(epoch_us(nts) - epoch_us(pts) AS BIGINT) AS span_us
       FROM mk)
SELECT hour_ts, n_obs, {interp_sql()} AS value FROM tm"""


def lattice_parity_q(spark: SparkSession, sf: str) -> DataFrame:
    return lattice_parity(_signals(spark, sf))


QUERIES["lattice_parity"] = lattice_parity_q

_tier_cols = """CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(inter_time_us) AS BIGINT) AS sum_latency_us,
         CAST(min(inter_time_us) AS BIGINT) AS min_latency_us,
         CAST(max(inter_time_us) AS BIGINT) AS max_latency_us,
         CAST(sum(text_len) AS BIGINT) AS sum_text_len,
         CAST(sum(tool_call) AS BIGINT) AS sum_tool_calls,
         min(ts) AS first_ts, max(ts) AS last_ts"""

ORACLE["lattice_parity"] = f"""{SIG_SQL},
direct AS (SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
             {_tier_cols}
           FROM sig GROUP BY conv_id, date_trunc('day', ts)),
hourly AS (SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
             {_tier_cols}
           FROM sig GROUP BY conv_id, date_trunc('hour', ts)),
via AS (SELECT conv_id, date_trunc('day', bucket_ts) AS bucket_ts,
          CAST(sum(n_points) AS BIGINT) AS n_points,
          CAST(sum(sum_latency_us) AS BIGINT) AS sum_latency_us,
          CAST(min(min_latency_us) AS BIGINT) AS min_latency_us,
          CAST(max(max_latency_us) AS BIGINT) AS max_latency_us,
          CAST(sum(sum_text_len) AS BIGINT) AS sum_text_len,
          CAST(sum(sum_tool_calls) AS BIGINT) AS sum_tool_calls,
          min(first_ts) AS first_ts, max(last_ts) AS last_ts
        FROM hourly GROUP BY conv_id, date_trunc('day', bucket_ts)),
j AS (SELECT d.conv_id AS d_conv, v.conv_id AS v_conv,
        (d.conv_id IS NOT NULL AND v.conv_id IS NOT NULL
         AND d.n_points = v.n_points
         AND d.sum_latency_us = v.sum_latency_us
         AND d.min_latency_us = v.min_latency_us
         AND d.max_latency_us = v.max_latency_us
         AND d.sum_text_len = v.sum_text_len
         AND d.sum_tool_calls = v.sum_tool_calls
         AND d.first_ts = v.first_ts
         AND d.last_ts = v.last_ts) AS eq
      FROM direct d
      FULL OUTER JOIN via v
        ON d.conv_id = v.conv_id AND d.bucket_ts = v.bucket_ts)
SELECT CAST(sum(CASE WHEN d_conv IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_direct,
       CAST(sum(CASE WHEN v_conv IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_via_hour,
       CAST(sum(CASE WHEN d_conv IS NOT NULL AND v_conv IS NOT NULL
         THEN 1 ELSE 0 END) AS BIGINT) AS n_joined,
       CAST(sum(CASE WHEN eq THEN 1 ELSE 0 END) AS BIGINT) AS n_equal,
       CAST(sum(CASE WHEN d_conv IS NOT NULL AND v_conv IS NOT NULL
         AND NOT eq THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       CAST(sum(CASE WHEN d_conv IS NOT NULL AND v_conv IS NULL
         THEN 1 ELSE 0 END) AS BIGINT) AS n_only_direct,
       CAST(sum(CASE WHEN v_conv IS NOT NULL AND d_conv IS NULL
         THEN 1 ELSE 0 END) AS BIGINT) AS n_only_via
FROM j"""


def oracle() -> dict[str, str]:
    return ORACLE
