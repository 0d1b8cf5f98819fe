"""Business analytics over the raw events table: value rollups, RFM,
revenue curves, buyer cohorts and lateness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aroma_spark.operators.anomaly import burst_user_daily
from aroma_spark.operators.business import (
    cohort_ltv_weekly,
    daily_role_pivot,
    interpurchase_daily,
    intraday_value_curve,
    median_value_by_type,
    pareto_revenue,
    props_field_hist,
    props_field_stats,
    purchase_attribution,
    purchase_value_percentiles,
    repeat_buyers_weekly,
    repurchase_lag_hist,
    revenue_heatmap,
    revenue_new_vs_returning,
    revenue_outlier_days,
    rfm_users,
    rolling_revenue_7d,
    spend_activity_deciles,
    spend_decile_mobility,
    top_buyer_daily,
    type_hour_lift,
    user_type_concentration,
    value_quality_audit,
    value_rollup_daily,
    wow_revenue,
)
from aroma_spark.operators.lateness import lateness_profile
from aroma_spark.registry import Query
from aroma_spark.sources.transcripts import load_table

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}


# Watermark-sizing profile. The synth stream is perfectly in-order
# (lateness would be identically 0 — a vacuous oracle), so BOTH
# engines first shift a deterministic slice of event times BACK by
# (event_id % 11) minutes (the dedup_exact injected-slice pattern):
# those events then arrive behind the high-water mark and the
# profile provably measures real lateness.
def lateness_1h(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    ev = ev.withColumn(
        "ts",
        F.when(
            F.col("event_id") % 7 == 3,
            F.expr(
                "ts - make_interval(0, 0, 0, 0, 0,"
                " CAST(event_id % 11 AS INT), 0)"
            ),
        ).otherwise(F.col("ts")),
    )
    return lateness_profile(ev, unit="hour")


QUERIES["lateness_1h"] = lateness_1h
ORACLE["lateness_1h"] = """
WITH ev AS (
  SELECT event_id, user_id,
         CASE WHEN event_id % 7 = 3
              THEN ts - CAST(event_id % 11 AS INT) * INTERVAL 1 MINUTE
              ELSE ts END AS ts
  FROM events),
l AS (
  SELECT event_id, CAST(user_id AS VARCHAR) AS conv_id, ts,
         max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - epoch_us(ts) AS lateness_us
  FROM ev)
SELECT date_trunc('hour', ts) AS bucket_ts,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN lateness_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(count(DISTINCT CASE WHEN lateness_us > 0 THEN conv_id END) AS BIGINT) AS n_convs_late,
       CAST(max(lateness_us) AS BIGINT) AS max_lateness_us,
       CAST(sum(lateness_us) AS BIGINT) AS sum_lateness_us
FROM l GROUP BY date_trunc('hour', ts)"""


def value_rollup_1d(spark: SparkSession, sf: str) -> DataFrame:
    return value_rollup_daily(load_table(spark, sf, "events"))


QUERIES["value_rollup_1d"] = value_rollup_1d
# The floor(value*100 + 0.5) cents quantization (floor, not CAST —
# Spark's double->bigint cast truncates, DuckDB's rounds) and the
# string-path JSON extraction.
ORACLE["value_rollup_1d"] = """WITH base AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
ag AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS BIGINT) AS sum_cents,
         CAST(min(cents) AS BIGINT) AS min_cents,
         CAST(max(cents) AS BIGINT) AS max_cents
       FROM base GROUP BY day, event_type)
SELECT day AS day_ts, event_type, n_events, sum_cents, min_cents,
       max_cents,
       round(CAST(sum_cents AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
         AS mean_cents
FROM ag"""


def props_k_stats(spark: SparkSession, sf: str) -> DataFrame:
    return props_field_stats(load_table(spark, sf, "events"))


QUERIES["props_k_stats"] = props_k_stats
ORACLE["props_k_stats"] = """WITH base AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv
  FROM events),
ag AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(kv) AS BIGINT) AS n_with_field,
         CAST(sum(kv) AS BIGINT) AS sum_field,
         CAST(min(kv) AS BIGINT) AS min_field,
         CAST(max(kv) AS BIGINT) AS max_field
       FROM base GROUP BY event_type)
SELECT event_type, n_events, n_with_field, sum_field, min_field,
       max_field,
       CASE WHEN n_with_field > 0 THEN
         round(CAST(sum_field AS DOUBLE)
           / CAST(n_with_field AS DOUBLE), 6) END AS mean_field
FROM ag"""


def rfm_users_q(spark: SparkSession, sf: str) -> DataFrame:
    return rfm_users(load_table(spark, sf, "events"))


QUERIES["rfm_users"] = rfm_users_q

_cents = "CAST(floor(value * 100 + 0.5) AS BIGINT)"

ORACLE["rfm_users"] = f"""WITH pu AS (
  SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum({_cents}) AS BIGINT) AS m_cents
  FROM events GROUP BY user_id),
mx AS (SELECT max(CAST(ts AS DATE)) AS max_day FROM events),
b AS (SELECT user_id,
        CAST(datediff('day', last_day, max_day) AS BIGINT)
          AS recency_days,
        n_events, m_cents
      FROM pu CROSS JOIN mx),
rk AS (SELECT b.*,
         row_number() OVER (ORDER BY recency_days, user_id) AS rk_r,
         row_number() OVER (ORDER BY n_events DESC, user_id) AS rk_f,
         row_number() OVER (ORDER BY m_cents DESC, user_id) AS rk_m,
         CAST(count(*) OVER () AS BIGINT) AS n
       FROM b)
SELECT user_id, recency_days, n_events, m_cents,
       CAST(5 - (rk_r - 1) * 5 // n AS BIGINT) AS r_score,
       CAST(5 - (rk_f - 1) * 5 // n AS BIGINT) AS f_score,
       CAST(5 - (rk_m - 1) * 5 // n AS BIGINT) AS m_score
FROM rk"""


def pareto_revenue_q(spark: SparkSession, sf: str) -> DataFrame:
    return pareto_revenue(load_table(spark, sf, "events"))


QUERIES["pareto_revenue"] = pareto_revenue_q
ORACLE["pareto_revenue"] = f"""WITH pu AS (
  SELECT user_id, CAST(sum({_cents}) AS BIGINT) AS m
  FROM events GROUP BY user_id),
st AS (SELECT m,
         sum(m) OVER (ORDER BY m DESC, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(m) OVER () AS total, max(m) OVER () AS top_m
       FROM pu)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN 10 * (cum - m) < 8 * total THEN 1 ELSE 0
         END) AS BIGINT) AS users_to_pct,
       CAST(max(total) AS BIGINT) AS total_cents,
       CAST(sum(CASE WHEN 10 * (cum - m) < 8 * total THEN m ELSE 0
         END) AS BIGINT) AS covered_cents,
       round(CAST(max(top_m) AS DOUBLE) / CAST(max(total) AS DOUBLE),
         6) AS top_user_share
FROM st"""


def interpurchase_1d(spark: SparkSession, sf: str) -> DataFrame:
    return interpurchase_daily(load_table(spark, sf, "events"))


QUERIES["interpurchase_1d"] = interpurchase_1d
# Inter-purchase gap profile and the exact fixed-point embedding-norm
# profile.
ORACLE["interpurchase_1d"] = """WITH p AS (
  SELECT user_id, ts, event_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'purchase'),
g AS (SELECT date_trunc('day', ts) AS day_ts,
        ts_us - lag(ts_us) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS gap_us
      FROM p),
ag AS (SELECT day_ts, CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
         CAST(min(gap_us) AS BIGINT) AS min_gap_us,
         CAST(max(gap_us) AS BIGINT) AS max_gap_us
       FROM g WHERE gap_us IS NOT NULL GROUP BY day_ts)
SELECT day_ts, n_gaps, sum_gap_us, min_gap_us, max_gap_us,
       CAST(sum_gap_us // n_gaps AS BIGINT) AS mean_gap_us
FROM ag"""


def rolling_revenue_7d_q(spark: SparkSession, sf: str) -> DataFrame:
    return rolling_revenue_7d(load_table(spark, sf, "events"))


QUERIES["rolling_revenue_7d"] = rolling_revenue_7d_q
ORACLE["rolling_revenue_7d"] = """WITH daily AS (
  SELECT date_trunc('day', ts) AS day_ts,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS day_cents,
         CAST(count(*) AS BIGINT) AS day_n
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
keyed AS (SELECT day_ts, day_cents, day_n,
            CAST(date_diff('day', DATE '1970-01-01',
              CAST(day_ts AS DATE)) AS BIGINT) AS day_no
          FROM daily)
SELECT day_ts, day_cents,
       CAST(count(*) OVER w AS BIGINT) AS n_days_in_window,
       CAST(sum(day_cents) OVER w AS BIGINT) AS rolling_cents,
       CAST(sum(day_n) OVER w AS BIGINT) AS rolling_n_events
FROM keyed
WINDOW w AS (ORDER BY day_no RANGE BETWEEN 6 PRECEDING
             AND CURRENT ROW)"""


def revenue_heatmap_q(spark: SparkSession, sf: str) -> DataFrame:
    return revenue_heatmap(load_table(spark, sf, "events"))


QUERIES["revenue_heatmap"] = revenue_heatmap_q
ORACLE["revenue_heatmap"] = """WITH base AS (
  SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
         CAST(hour(ts) AS INTEGER) AS hod,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
ag AS (SELECT dow, hod, CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(sum(cents) AS BIGINT) AS sum_cents
       FROM base GROUP BY dow, hod)
SELECT dow, hod, n_purchases, sum_cents,
       round(CAST(sum_cents AS DOUBLE)
         / CAST(n_purchases AS DOUBLE), 6) AS mean_cents
FROM ag"""


def value_percentiles_1d(spark: SparkSession, sf: str) -> DataFrame:
    return purchase_value_percentiles(load_table(spark, sf, "events"))


QUERIES["value_percentiles_1d"] = value_percentiles_1d
# Exact daily purchase-value percentiles and the week-over-week revenue
# growth line.
ORACLE["value_percentiles_1d"] = """WITH base AS (
  SELECT date_trunc('day', ts) AS day_ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, event_id
  FROM events WHERE event_type = 'purchase'),
ranked AS (SELECT day_ts, cents,
             row_number() OVER (PARTITION BY day_ts
               ORDER BY cents, event_id) AS rk,
             CAST(count(*) OVER (PARTITION BY day_ts) AS BIGINT)
               AS n_purchases
           FROM base)
SELECT day_ts, CAST(max(n_purchases) AS BIGINT) AS n_purchases,
       CAST(min(CASE WHEN rk = greatest(1,
         CAST(ceil(n_purchases * 50 / 100.0) AS BIGINT))
         THEN cents END) AS BIGINT) AS p50_cents,
       CAST(min(CASE WHEN rk = greatest(1,
         CAST(ceil(n_purchases * 90 / 100.0) AS BIGINT))
         THEN cents END) AS BIGINT) AS p90_cents,
       CAST(min(CASE WHEN rk = greatest(1,
         CAST(ceil(n_purchases * 99 / 100.0) AS BIGINT))
         THEN cents END) AS BIGINT) AS p99_cents
FROM ranked GROUP BY day_ts"""


def wow_revenue_q(spark: SparkSession, sf: str) -> DataFrame:
    return wow_revenue(load_table(spark, sf, "events"))


QUERIES["wow_revenue"] = wow_revenue_q
ORACLE["wow_revenue"] = """WITH weekly AS (
  SELECT date_trunc('week', ts) AS week_ts,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS week_cents,
         CAST(count(*) AS BIGINT) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
lg AS (SELECT week_ts, week_cents, n_purchases,
         CAST(CASE WHEN lag(week_ts) OVER w
           = week_ts - INTERVAL 7 DAYS
           THEN lag(week_cents) OVER w END AS BIGINT)
           AS prev_week_cents
       FROM weekly WINDOW w AS (ORDER BY week_ts))
SELECT week_ts, week_cents, n_purchases, prev_week_cents,
       CASE WHEN prev_week_cents > 0 THEN
         round(CAST(week_cents - prev_week_cents AS DOUBLE)
           / CAST(prev_week_cents AS DOUBLE), 6) END AS wow_growth
FROM lg"""


def revenue_new_ret(spark: SparkSession, sf: str) -> DataFrame:
    return revenue_new_vs_returning(load_table(spark, sf, "events"))


QUERIES["revenue_new_ret"] = revenue_new_ret
ORACLE["revenue_new_ret"] = """WITH fd AS (
  SELECT user_id, date_trunc('day', min(ts)) AS first_day
  FROM events GROUP BY user_id),
p AS (SELECT e.user_id, date_trunc('day', e.ts) AS day_ts,
        CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents
      FROM events e WHERE e.event_type = 'purchase'),
j AS (SELECT p.day_ts, p.cents,
        p.day_ts = fd.first_day AS is_new
      FROM p JOIN fd ON p.user_id = fd.user_id),
ag AS (SELECT day_ts, CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(sum(CASE WHEN is_new THEN cents ELSE 0 END) AS BIGINT)
           AS new_cents,
         CAST(sum(CASE WHEN is_new THEN 0 ELSE cents END) AS BIGINT)
           AS returning_cents,
         CAST(sum(cents) AS BIGINT) AS total_cents
       FROM j GROUP BY day_ts)
SELECT day_ts, n_purchases, new_cents, returning_cents, total_cents,
       CASE WHEN total_cents > 0 THEN round(CAST(new_cents AS DOUBLE)
         / CAST(total_cents AS DOUBLE), 6) END AS new_share
FROM ag"""


def burst_user_1d(spark: SparkSession, sf: str) -> DataFrame:
    return burst_user_daily(load_table(spark, sf, "events"))


QUERIES["burst_user_1d"] = burst_user_1d
# Burst-user watch, daily top buyer, exact centroid alignment, PK audit
# and per-role median length.
ORACLE["burst_user_1d"] = """WITH cell AS (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2),
d AS (SELECT cell.*, date_trunc('day', hour_ts) AS day_ts FROM cell),
rk AS (SELECT day_ts, user_id, hour_ts, n_events,
         row_number() OVER (PARTITION BY day_ts
           ORDER BY n_events DESC, user_id ASC, hour_ts ASC) AS rn,
         CAST(sum(n_events) OVER (PARTITION BY day_ts) AS BIGINT)
           AS day_events
       FROM d)
SELECT day_ts, user_id AS burst_user_id, hour_ts AS burst_hour_ts,
       n_events AS burst_events, day_events,
       round(CAST(n_events AS DOUBLE) / CAST(day_events AS DOUBLE), 6)
         AS burst_share
FROM rk WHERE rn = 1"""


def top_buyer_1d(spark: SparkSession, sf: str) -> DataFrame:
    return top_buyer_daily(load_table(spark, sf, "events"))


QUERIES["top_buyer_1d"] = top_buyer_1d
ORACLE["top_buyer_1d"] = """WITH cell AS (
  SELECT date_trunc('day', ts) AS day_ts, user_id,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents,
         CAST(count(*) AS BIGINT) AS n_user_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
rk AS (SELECT cell.*,
         row_number() OVER (PARTITION BY day_ts
           ORDER BY cents DESC, user_id ASC) AS rn,
         CAST(sum(cents) OVER (PARTITION BY day_ts) AS BIGINT)
           AS day_cents
       FROM cell)
SELECT day_ts, user_id AS top_user_id, cents AS top_cents,
       n_user_purchases, day_cents,
       CASE WHEN day_cents > 0 THEN round(CAST(cents AS DOUBLE)
         / CAST(day_cents AS DOUBLE), 6) END AS top_share
FROM rk WHERE rn = 1"""


def revenue_outliers(spark: SparkSession, sf: str) -> DataFrame:
    return revenue_outlier_days(load_table(spark, sf, "events"))


QUERIES["revenue_outliers"] = revenue_outliers
ORACLE["revenue_outliers"] = """WITH daily AS (
  SELECT date_trunc('day', ts) AS day_ts,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS day_cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
ranked AS (SELECT day_ts, day_cents,
             row_number() OVER (ORDER BY day_cents, day_ts) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
           FROM daily),
med AS (SELECT day_cents AS median_cents FROM ranked
        WHERE rk = (n + 1) // 2)
SELECT d.day_ts, d.day_cents, med.median_cents,
       CASE WHEN med.median_cents > 0 THEN round(CAST(d.day_cents
         AS DOUBLE) / CAST(med.median_cents AS DOUBLE), 6) END
         AS rev_ratio,
       d.day_cents > 2 * med.median_cents AS is_high,
       2 * d.day_cents < med.median_cents AS is_low
FROM daily d, med"""


def value_quality(spark: SparkSession, sf: str) -> DataFrame:
    return value_quality_audit(load_table(spark, sf, "events"))


QUERIES["value_quality"] = value_quality
ORACLE["value_quality"] = """WITH ag AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_null,
         CAST(sum(CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT)
           = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         CAST(sum(CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT)
           < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
  FROM events GROUP BY event_type)
SELECT event_type, n_events, n_null, n_zero, n_negative,
       round(CAST(n_zero AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
         AS zero_share
FROM ag"""


def spend_deciles(spark: SparkSession, sf: str) -> DataFrame:
    return spend_activity_deciles(load_table(spark, sf, "events"))


QUERIES["spend_deciles"] = spend_deciles
ORACLE["spend_deciles"] = """WITH spend AS (
  SELECT user_id,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
days AS (SELECT user_id, CAST(count(*) AS BIGINT) AS active_days
         FROM (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
               FROM events) GROUP BY user_id),
j AS (SELECT s.user_id, s.cents, d.active_days
      FROM spend s JOIN days d ON s.user_id = d.user_id),
ranked AS (SELECT cents, active_days,
             row_number() OVER (ORDER BY cents ASC, user_id ASC)
               AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
           FROM j),
bk AS (SELECT CAST(((rk - 1) * 10) // n AS INTEGER) AS decile,
         cents, active_days
       FROM ranked),
ag AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(cents) AS BIGINT) AS sum_cents,
         CAST(sum(active_days) AS BIGINT) AS sum_active_days
       FROM bk GROUP BY decile)
SELECT decile, n_users, sum_cents, sum_active_days,
       round(CAST(sum_active_days AS DOUBLE)
         / CAST(n_users AS DOUBLE), 6) AS mean_active_days
FROM ag"""


def type_hour_lift_q(spark: SparkSession, sf: str) -> DataFrame:
    return type_hour_lift(load_table(spark, sf, "events"))


QUERIES["type_hour_lift"] = type_hour_lift_q
ORACLE["type_hour_lift"] = """WITH cell AS (
  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2),
m AS (SELECT cell.*,
        CAST(sum(n_events) OVER (PARTITION BY event_type) AS BIGINT)
          AS type_total,
        CAST(sum(n_events) OVER (PARTITION BY hod) AS BIGINT)
          AS hour_total,
        CAST(sum(n_events) OVER () AS BIGINT) AS corpus_total
      FROM cell)
SELECT event_type, hod, n_events, type_total, hour_total,
       corpus_total,
       round(CAST(n_events AS DOUBLE) * CAST(corpus_total AS DOUBLE)
         / (CAST(type_total AS DOUBLE) * CAST(hour_total AS DOUBLE)),
         6) AS lift
FROM m"""


def repeat_buyers_1w(spark: SparkSession, sf: str) -> DataFrame:
    return repeat_buyers_weekly(load_table(spark, sf, "events"))


QUERIES["repeat_buyers_1w"] = repeat_buyers_1w
ORACLE["repeat_buyers_1w"] = """WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week_ts
  FROM events WHERE event_type = 'purchase'),
mk AS (SELECT week_ts,
         lag(week_ts) OVER (PARTITION BY user_id ORDER BY week_ts)
           = week_ts - INTERVAL 7 DAYS AS is_repeat
       FROM uw),
ag AS (SELECT week_ts, CAST(count(*) AS BIGINT) AS n_buyers,
         CAST(sum(CASE WHEN is_repeat THEN 1 ELSE 0 END) AS BIGINT)
           AS n_repeat
       FROM mk GROUP BY week_ts)
SELECT week_ts, n_buyers, n_repeat,
       round(CAST(n_repeat AS DOUBLE) / CAST(n_buyers AS DOUBLE), 6)
         AS repeat_share
FROM ag"""


def props_k_hist(spark: SparkSession, sf: str) -> DataFrame:
    return props_field_hist(load_table(spark, sf, "events"))


QUERIES["props_k_hist"] = props_k_hist
ORACLE["props_k_hist"] = """WITH base AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv
  FROM events),
bk AS (SELECT CASE WHEN kv IS NULL THEN -1
         ELSE CAST(length(bin(kv + 1)) - 1 AS INTEGER) END AS bucket,
         COALESCE(kv, 0) AS v
       FROM base),
hist AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v) AS BIGINT) AS sum_value
         FROM bk GROUP BY bucket),
tot AS (SELECT hist.*, CAST(sum(n_events) OVER () AS BIGINT)
          AS total FROM hist)
SELECT bucket,
       CASE WHEN bucket >= 0 THEN CAST((1 << bucket) - 1 AS BIGINT)
       END AS lo_value,
       n_events, sum_value,
       round(CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE), 6)
         AS share
FROM tot"""


def median_value_type(spark: SparkSession, sf: str) -> DataFrame:
    return median_value_by_type(load_table(spark, sf, "events"))


QUERIES["median_value_type"] = median_value_type
ORACLE["median_value_type"] = """WITH base AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, event_id
  FROM events),
ranked AS (SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
               ORDER BY cents, event_id) AS rk,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_events
           FROM base)
SELECT event_type, n_events, cents AS median_cents
FROM ranked WHERE rk = (n_events + 1) // 2"""


def cohort_ltv_1w(spark: SparkSession, sf: str) -> DataFrame:
    return cohort_ltv_weekly(load_table(spark, sf, "events"))


QUERIES["cohort_ltv_1w"] = cohort_ltv_1w
ORACLE["cohort_ltv_1w"] = """WITH fw AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id),
sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
          FROM fw GROUP BY cohort_week),
rev AS (SELECT user_id, date_trunc('week', ts) AS active_week,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'),
grid AS (
  SELECT fw.cohort_week,
         CAST(date_diff('day', CAST(fw.cohort_week AS DATE),
           CAST(r.active_week AS DATE)) / 7 AS INTEGER) AS offset_week,
         CAST(count(DISTINCT r.user_id) AS BIGINT) AS n_buyers,
         CAST(sum(r.cents) AS BIGINT) AS rev_cents
  FROM rev r JOIN fw ON r.user_id = fw.user_id
  GROUP BY 1, 2),
cum AS (SELECT *,
          CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
            ORDER BY offset_week
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_rev_cents
        FROM grid)
SELECT c.cohort_week, c.offset_week, s.cohort_users, c.n_buyers,
       c.rev_cents, c.cum_rev_cents,
       CAST(c.cum_rev_cents // s.cohort_users AS BIGINT)
         AS ltv_cents_per_user
FROM cum c JOIN sizes s ON c.cohort_week = s.cohort_week"""


def purchase_attribution_q(spark: SparkSession, sf: str) -> DataFrame:
    return purchase_attribution(load_table(spark, sf, "events"))


QUERIES["purchase_attribution"] = purchase_attribution_q
ORACLE["purchase_attribution"] = """WITH base AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
attr AS (
  SELECT *,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_touch
  FROM base),
ag AS (SELECT COALESCE(last_touch, '(none)') AS touch,
         CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(sum(cents) AS BIGINT) AS rev_cents
       FROM attr WHERE event_type = 'purchase' GROUP BY 1)
SELECT touch, n_purchases, rev_cents,
       round(CAST(n_purchases AS DOUBLE)
         / CAST(sum(n_purchases) OVER () AS DOUBLE), 6) AS share
FROM ag"""


def user_type_conc(spark: SparkSession, sf: str) -> DataFrame:
    return user_type_concentration(load_table(spark, sf, "events"))


QUERIES["user_type_conc"] = user_type_conc
ORACLE["user_type_conc"] = """WITH per AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type),
u AS (SELECT user_id, CAST(max(n) AS BIGINT) AS max_n,
        CAST(sum(n) AS BIGINT) AS total_n
      FROM per GROUP BY user_id),
b AS (SELECT CAST((10 * max_n) // total_n AS INTEGER) AS bucket FROM u),
h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_users
      FROM b GROUP BY bucket)
SELECT bucket, round(CAST(bucket AS DOUBLE) / 10.0, 1) AS lo_share,
       n_users,
       round(CAST(n_users AS DOUBLE)
         / CAST(sum(n_users) OVER () AS DOUBLE), 6) AS user_share
FROM h"""


def spend_decile_mob(spark: SparkSession, sf: str) -> DataFrame:
    return spend_decile_mobility(load_table(spark, sf, "events"))


QUERIES["spend_decile_mob"] = spend_decile_mob
ORACLE["spend_decile_mob"] = """WITH m AS (
  SELECT user_id, date_trunc('week', ts) AS week_ts,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, date_trunc('week', ts)),
r AS (SELECT user_id, week_ts,
        CAST(((row_number() OVER (PARTITION BY week_ts
            ORDER BY cents, user_id) - 1) * 10)
          // (count(*) OVER (PARTITION BY week_ts)) AS INTEGER)
          AS decile
      FROM m)
SELECT a.week_ts, a.decile AS from_decile, b.decile AS to_decile,
       CAST(count(*) AS BIGINT) AS n_users
FROM r a JOIN r b ON a.user_id = b.user_id
  AND b.week_ts = a.week_ts + INTERVAL 7 DAY
GROUP BY a.week_ts, a.decile, b.decile"""


def repurchase_lag(spark: SparkSession, sf: str) -> DataFrame:
    return repurchase_lag_hist(load_table(spark, sf, "events"))


QUERIES["repurchase_lag"] = repurchase_lag
ORACLE["repurchase_lag"] = """WITH ranked AS (
  SELECT user_id, ts,
         row_number() OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS rk
  FROM events WHERE event_type = 'purchase'),
lags AS (SELECT user_id,
           CAST(date_diff('day',
             CAST(max(CASE WHEN rk = 1 THEN ts END) AS DATE),
             CAST(max(CASE WHEN rk = 2 THEN ts END) AS DATE))
             AS BIGINT) AS lag_days
         FROM ranked WHERE rk <= 2 GROUP BY user_id
         HAVING count(*) = 2),
hist AS (SELECT lag_days, CAST(count(*) AS BIGINT) AS n_users
         FROM lags GROUP BY lag_days)
SELECT lag_days, n_users,
       round(CAST(n_users AS DOUBLE)
         / CAST(sum(n_users) OVER () AS DOUBLE), 6) AS share
FROM hist"""


def intraday_value(spark: SparkSession, sf: str) -> DataFrame:
    return intraday_value_curve(load_table(spark, sf, "events"))


QUERIES["intraday_value"] = intraday_value
ORACLE["intraday_value"] = """WITH hourly AS (
  SELECT CAST(extract(hour FROM ts) AS INTEGER) AS hour_of_day,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1),
cum AS (SELECT *,
          CAST(sum(cents) OVER (ORDER BY hour_of_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_cents,
          CAST(sum(cents) OVER () AS BIGINT) AS total_cents
        FROM hourly)
SELECT hour_of_day, cents, cum_cents,
       round(CAST(cum_cents AS DOUBLE)
         / CAST(total_cents AS DOUBLE), 6) AS cum_share
FROM cum"""


def role_pivot_1d(spark: SparkSession, sf: str) -> DataFrame:
    return daily_role_pivot(load_table(spark, sf, "events"))


QUERIES["role_pivot_1d"] = role_pivot_1d
ORACLE["role_pivot_1d"] = """WITH ag AS (
  SELECT date_trunc('day', ts) AS day_ts, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT day_ts,
       CAST(COALESCE(sum(CASE WHEN event_type = 'click' THEN n END),
         0) AS BIGINT) AS n_click,
       CAST(COALESCE(sum(CASE WHEN event_type = 'error' THEN n END),
         0) AS BIGINT) AS n_error,
       CAST(COALESCE(sum(CASE WHEN event_type = 'purchase' THEN n END),
         0) AS BIGINT) AS n_purchase,
       CAST(COALESCE(sum(CASE WHEN event_type = 'signup' THEN n END),
         0) AS BIGINT) AS n_signup,
       CAST(COALESCE(sum(CASE WHEN event_type = 'view' THEN n END),
         0) AS BIGINT) AS n_view
FROM ag GROUP BY day_ts"""


def oracle() -> dict[str, str]:
    return ORACLE
