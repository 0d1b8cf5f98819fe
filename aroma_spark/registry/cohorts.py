"""Cohort, retention and engagement queries over the transcripts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from aroma_spark.operators.cohorts import (
    active_day_streaks,
    audience_overlap_weekly,
    bounce_rate_daily,
    burstiness,
    cohort_retention,
    cohort_retention_weekly,
    conv_length_survival,
    conv_span_profile,
    error_convs_weekly,
    error_recovery_daily,
    funnel_steps,
    growth_accounting,
    lifespan_histogram,
    mau_monthly,
    rolling_active_counts,
    signup_purchase_lag_daily,
    stickiness,
    time_to_first_tool_daily,
    timed_conversion,
    tool_adoption_daily,
)
from aroma_spark.registry import Query
from aroma_spark.sources.transcripts import TRANSCRIPTS_SQL, transcripts_from_events

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}


def cohort_retention_q(spark: SparkSession, sf: str) -> DataFrame:
    return cohort_retention(transcripts_from_events(spark, sf))


QUERIES["cohort_retention"] = cohort_retention_q
ORACLE["cohort_retention"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
fd AS (SELECT conv_id, min(date_trunc('day', ts)) AS cohort_day
       FROM t GROUP BY conv_id),
act AS (SELECT DISTINCT conv_id, date_trunc('day', ts) AS active_day FROM t)
SELECT cohort_day,
       CAST(date_diff('day', cohort_day, active_day) AS INT) AS offset_day,
       CAST(count(*) AS BIGINT) AS n_convs
FROM act JOIN fd USING (conv_id)
GROUP BY cohort_day, offset_day"""


def active_7d(spark: SparkSession, sf: str) -> DataFrame:
    return rolling_active_counts(
        transcripts_from_events(spark, sf), window_days=7
    )


QUERIES["active_7d"] = active_7d
ORACLE["active_7d"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
act AS (SELECT DISTINCT conv_id, date_trunc('day', ts) AS d FROM t),
ends AS (SELECT conv_id,
                unnest(generate_series(d, d + INTERVAL 6 DAY,
                                       INTERVAL 1 DAY)) AS window_end_day
         FROM act)
SELECT window_end_day, CAST(count(DISTINCT conv_id) AS BIGINT) AS n_active
FROM ends GROUP BY window_end_day"""


def funnel_counts(spark: SparkSession, sf: str) -> DataFrame:
    return funnel_steps(
        transcripts_from_events(spark, sf),
        ["view", "click", "purchase"],
    )


QUERIES["funnel_counts"] = funnel_counts
ORACLE["funnel_counts"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
s1 AS (SELECT conv_id, min(turn_idx) AS m FROM t
       WHERE role = 'view' GROUP BY conv_id),
s2 AS (SELECT t.conv_id, min(t.turn_idx) AS m FROM t
       JOIN s1 ON t.conv_id = s1.conv_id AND t.turn_idx > s1.m
       WHERE t.role = 'click' GROUP BY t.conv_id),
s3 AS (SELECT t.conv_id, min(t.turn_idx) AS m FROM t
       JOIN s2 ON t.conv_id = s2.conv_id AND t.turn_idx > s2.m
       WHERE t.role = 'purchase' GROUP BY t.conv_id),
u AS (
  SELECT 1 AS step, 'view' AS role,
         (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_convs
  UNION ALL
  SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s2)
  UNION ALL
  SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s3))
SELECT CAST(step AS INT) AS step, role, n_convs FROM u WHERE n_convs > 0"""


def stickiness_1_7(spark: SparkSession, sf: str) -> DataFrame:
    return stickiness(
        transcripts_from_events(spark, sf), short_days=1, long_days=7
    )


QUERIES["stickiness_1_7"] = stickiness_1_7


def _active_sql(days: int, alias: str) -> str:
    return f"""(SELECT window_end_day,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS {alias}
FROM (SELECT conv_id,
             unnest(generate_series(d, d + INTERVAL {days - 1} DAY,
                                    INTERVAL 1 DAY)) AS window_end_day
      FROM (SELECT DISTINCT conv_id, date_trunc('day', ts) AS d FROM t))
GROUP BY window_end_day)"""


ORACLE["stickiness_1_7"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
s AS {_active_sql(1, "n_short")},
lw AS {_active_sql(7, "n_long")}
SELECT window_end_day, n_short, n_long,
       round(CAST(n_short AS DOUBLE) / CAST(n_long AS DOUBLE), 6)
         AS stickiness
FROM s JOIN lw USING (window_end_day)"""


def burstiness_q(spark: SparkSession, sf: str) -> DataFrame:
    return burstiness(transcripts_from_events(spark, sf))


QUERIES["burstiness"] = burstiness_q
ORACLE["burstiness"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
g AS (SELECT conv_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER
                (PARTITION BY conv_id ORDER BY turn_idx)) // 1000000 AS g
      FROM t),
a AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(g) AS BIGINT) AS s1,
             CAST(sum(g*g) AS BIGINT) AS s2
      FROM g WHERE g IS NOT NULL GROUP BY conv_id
      HAVING count(*) >= 3)
SELECT conv_id, n_gaps,
       CASE WHEN (CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))) > 0
              OR (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)) > 0
       THEN round(
         (sqrt(CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
               - (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
          - CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
         / (sqrt(CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
               - (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
          + CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 6)
       END AS burstiness
FROM a"""


def lifespan_hist(spark: SparkSession, sf: str) -> DataFrame:
    return lifespan_histogram(transcripts_from_events(spark, sf))


QUERIES["lifespan_hist"] = lifespan_hist
ORACLE["lifespan_hist"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
span AS (SELECT conv_id,
                max(epoch_us(ts)) - min(epoch_us(ts)) AS lifespan_us
         FROM t GROUP BY conv_id)
SELECT CAST(CASE WHEN lifespan_us <= 0 THEN 0
            ELSE length(format('{{:b}}', lifespan_us)) END AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_convs
FROM span GROUP BY bin"""


def day_streaks(spark: SparkSession, sf: str) -> DataFrame:
    return active_day_streaks(transcripts_from_events(spark, sf))


QUERIES["day_streaks"] = day_streaks
ORACLE["day_streaks"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
days AS (SELECT DISTINCT conv_id, CAST(ts AS DATE) AS d FROM t),
anch AS (SELECT conv_id,
           d - CAST(row_number() OVER (PARTITION BY conv_id
                 ORDER BY d) AS INTEGER) AS anchor
         FROM days),
st AS (SELECT conv_id, anchor, CAST(count(*) AS BIGINT) AS streak_days
       FROM anch GROUP BY conv_id, anchor)
SELECT conv_id, CAST(sum(streak_days) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(streak_days) AS BIGINT) AS max_streak_days
FROM st GROUP BY conv_id"""


def conv_survival(spark: SparkSession, sf: str) -> DataFrame:
    return conv_length_survival(transcripts_from_events(spark, sf))


QUERIES["conv_survival"] = conv_survival
ORACLE["conv_survival"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
lens AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS conv_len
         FROM t GROUP BY conv_id),
hist AS (SELECT conv_len, CAST(count(*) AS BIGINT) AS n_deaths
         FROM lens GROUP BY conv_len),
stp AS (SELECT conv_len, n_deaths,
          CAST(sum(n_deaths) OVER (ORDER BY conv_len DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_at_risk,
          CAST(sum(n_deaths) OVER () AS BIGINT) AS n_total
        FROM hist)
SELECT conv_len, n_deaths, n_at_risk,
       round(CAST(n_deaths AS DOUBLE) / CAST(n_at_risk AS DOUBLE), 6)
         AS hazard,
       round(CAST(n_at_risk AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
         AS survival
FROM stp"""


def tool_adoption(spark: SparkSession, sf: str) -> DataFrame:
    return tool_adoption_daily(transcripts_from_events(spark, sf))


QUERIES["tool_adoption"] = tool_adoption
ORACLE["tool_adoption"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
firsts AS (SELECT conv_id, date_trunc('day', min(ts)) AS first_day,
             date_trunc('day', min(CASE WHEN tool IS NOT NULL
               AND tool <> '' THEN ts END)) AS first_tool_day
           FROM t GROUP BY conv_id),
ev AS (SELECT first_day AS day, 1 AS ds, 0 AS da FROM firsts
       UNION ALL
       SELECT first_tool_day AS day, 0 AS ds, 1 AS da FROM firsts
       WHERE first_tool_day IS NOT NULL),
daily AS (SELECT day, CAST(sum(ds) AS BIGINT) AS n_started,
            CAST(sum(da) AS BIGINT) AS n_adopted
          FROM ev GROUP BY day),
cum AS (SELECT day,
          CAST(sum(n_started) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_started_cum,
          CAST(sum(n_adopted) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_adopted_cum
        FROM daily)
SELECT day AS day_ts, n_started_cum, n_adopted_cum,
       CASE WHEN n_started_cum > 0 THEN
         round(CAST(n_adopted_cum AS DOUBLE)
           / CAST(n_started_cum AS DOUBLE), 6) END AS adoption_rate
FROM cum"""


def timed_conversion_1h(spark: SparkSession, sf: str) -> DataFrame:
    return timed_conversion(transcripts_from_events(spark, sf))


QUERIES["timed_conversion_1h"] = timed_conversion_1h
ORACLE["timed_conversion_1h"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
fa AS (SELECT conv_id,
         min(CASE WHEN role = 'view' THEN epoch_us(ts) END) AS a_us
       FROM t GROUP BY conv_id),
j AS (SELECT t.conv_id, t.role, epoch_us(t.ts) AS ts_us, fa.a_us
      FROM t JOIN fa ON t.conv_id = fa.conv_id),
pc AS (SELECT conv_id, max(a_us) AS a_us,
         min(CASE WHEN role = 'purchase' AND a_us IS NOT NULL
                   AND ts_us >= a_us THEN ts_us END) AS b_us
       FROM j GROUP BY conv_id),
d AS (SELECT conv_id, a_us, b_us, b_us - a_us AS delay_us FROM pc),
ag AS (SELECT CAST(count(*) AS BIGINT) AS n_convs,
         CAST(count(a_us) AS BIGINT) AS n_with_a,
         CAST(count(b_us) AS BIGINT) AS n_with_b_after,
         CAST(sum(CASE WHEN delay_us <= 3600000000 THEN 1 ELSE 0
           END) AS BIGINT) AS n_within_window,
         CAST(min(delay_us) AS BIGINT) AS min_delay_us,
         CAST(max(delay_us) AS BIGINT) AS max_delay_us
       FROM d)
SELECT n_convs, n_with_a, n_with_b_after, n_within_window,
       CASE WHEN n_with_a > 0 THEN round(CAST(n_with_b_after
         AS DOUBLE) / CAST(n_with_a AS DOUBLE), 6) END
         AS conversion_rate,
       CASE WHEN n_with_a > 0 THEN round(CAST(n_within_window
         AS DOUBLE) / CAST(n_with_a AS DOUBLE), 6) END
         AS windowed_rate,
       min_delay_us, max_delay_us
FROM ag"""


def growth_accounting_q(spark: SparkSession, sf: str) -> DataFrame:
    return growth_accounting(transcripts_from_events(spark, sf))


QUERIES["growth_accounting"] = growth_accounting_q
# Daily growth accounting and the integer-exact TPC-H Q6 single-scan
# aggregate.
ORACLE["growth_accounting"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
days AS (SELECT DISTINCT conv_id, date_trunc('day', ts) AS day_ts
         FROM t),
mk AS (SELECT day_ts,
         lag(day_ts) OVER w IS NULL AS is_new,
         (lag(day_ts) OVER w IS NOT NULL
          AND lag(day_ts) OVER w = day_ts - INTERVAL 1 DAY)
           AS is_retained,
         (lag(day_ts) OVER w IS NOT NULL
          AND lag(day_ts) OVER w < day_ts - INTERVAL 1 DAY)
           AS is_resurrected,
         (lead(day_ts) OVER w IS NULL
          OR lead(day_ts) OVER w > day_ts + INTERVAL 1 DAY)
           AS churns_next
       FROM days
       WINDOW w AS (PARTITION BY conv_id ORDER BY day_ts)),
ag AS (SELECT day_ts, CAST(count(*) AS BIGINT) AS n_active,
         CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(sum(CASE WHEN is_retained THEN 1 ELSE 0 END) AS BIGINT)
           AS n_retained,
         CAST(sum(CASE WHEN is_resurrected THEN 1 ELSE 0 END)
           AS BIGINT) AS n_resurrected,
         CAST(sum(CASE WHEN churns_next THEN 1 ELSE 0 END) AS BIGINT)
           AS n_churn_next
       FROM mk GROUP BY day_ts)
SELECT day_ts, n_active, n_new, n_retained, n_resurrected,
       n_churn_next,
       round(CAST(n_retained AS DOUBLE) / CAST(n_active AS DOUBLE), 6)
         AS retained_share
FROM ag"""


def bounce_rate_1d(spark: SparkSession, sf: str) -> DataFrame:
    return bounce_rate_daily(transcripts_from_events(spark, sf))


QUERIES["bounce_rate_1d"] = bounce_rate_1d
ORACLE["bounce_rate_1d"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
pc AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         date_trunc('day', min(ts)) AS day_ts
       FROM t GROUP BY conv_id),
ag AS (SELECT day_ts, CAST(count(*) AS BIGINT) AS n_started,
         CAST(sum(CASE WHEN n_turns = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounced
       FROM pc GROUP BY day_ts)
SELECT day_ts, n_started, n_bounced,
       round(CAST(n_bounced AS DOUBLE) / CAST(n_started AS DOUBLE), 6)
         AS bounce_share
FROM ag"""


def ttft_1d(spark: SparkSession, sf: str) -> DataFrame:
    return time_to_first_tool_daily(transcripts_from_events(spark, sf))


QUERIES["ttft_1d"] = ttft_1d
ORACLE["ttft_1d"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
pc AS (SELECT conv_id, date_trunc('day', min(ts)) AS day_ts,
         epoch_us(min(ts)) AS first_us,
         epoch_us(min(CASE WHEN tool IS NOT NULL AND tool <> ''
           THEN ts END)) AS first_tool_us
       FROM t GROUP BY conv_id),
tt AS (SELECT day_ts, first_tool_us - first_us AS ttft_us FROM pc),
ag AS (SELECT day_ts, CAST(count(*) AS BIGINT) AS n_started,
         CAST(count(ttft_us) AS BIGINT) AS n_with_tool,
         CAST(sum(ttft_us) AS BIGINT) AS sum_ttft_us,
         CAST(min(ttft_us) AS BIGINT) AS min_ttft_us,
         CAST(max(ttft_us) AS BIGINT) AS max_ttft_us
       FROM tt GROUP BY day_ts)
SELECT day_ts, n_started, n_with_tool, sum_ttft_us, min_ttft_us,
       max_ttft_us,
       CASE WHEN n_with_tool > 0 THEN
         CAST(sum_ttft_us // n_with_tool AS BIGINT) END
         AS mean_ttft_us,
       round(CAST(n_with_tool AS DOUBLE) / CAST(n_started AS DOUBLE), 6)
         AS tool_share
FROM ag"""


def error_recovery_1d(spark: SparkSession, sf: str) -> DataFrame:
    return error_recovery_daily(transcripts_from_events(spark, sf))


QUERIES["error_recovery_1d"] = error_recovery_1d
ORACLE["error_recovery_1d"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
mk AS (SELECT role, ts,
         lead(epoch_us(ts)) OVER (PARTITION BY conv_id
           ORDER BY turn_idx) - epoch_us(ts) AS next_gap_us
       FROM t),
er AS (SELECT date_trunc('day', ts) AS day_ts, next_gap_us
       FROM mk WHERE role = 'error'),
ag AS (SELECT day_ts, CAST(count(*) AS BIGINT) AS n_errors,
         CAST(count(next_gap_us) AS BIGINT) AS n_recovered,
         CAST(sum(next_gap_us) AS BIGINT) AS sum_recovery_us
       FROM er GROUP BY day_ts)
SELECT day_ts, n_errors, n_recovered,
       CAST(n_errors - n_recovered AS BIGINT) AS n_terminal,
       sum_recovery_us,
       CASE WHEN n_recovered > 0 THEN
         CAST(sum_recovery_us // n_recovered AS BIGINT) END
         AS mean_recovery_us,
       round(CAST(n_recovered AS DOUBLE) / CAST(n_errors AS DOUBLE), 6)
         AS recovery_share
FROM ag"""


def mau_1mo(spark: SparkSession, sf: str) -> DataFrame:
    return mau_monthly(transcripts_from_events(spark, sf))


QUERIES["mau_1mo"] = mau_1mo
ORACLE["mau_1mo"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
m AS (SELECT DISTINCT conv_id, date_trunc('month', ts) AS month_ts
      FROM t),
monthly AS (SELECT month_ts, CAST(count(*) AS BIGINT) AS n_active
            FROM m GROUP BY month_ts),
lg AS (SELECT month_ts, n_active,
         CAST(CASE WHEN lag(month_ts) OVER w
           = month_ts - INTERVAL 1 MONTH
           THEN lag(n_active) OVER w END AS BIGINT) AS prev_n_active
       FROM monthly WINDOW w AS (ORDER BY month_ts))
SELECT month_ts, n_active, prev_n_active,
       CASE WHEN prev_n_active > 0 THEN
         round(CAST(n_active - prev_n_active AS DOUBLE)
           / CAST(prev_n_active AS DOUBLE), 6) END AS mom_growth
FROM lg"""


def conv_span_1d(spark: SparkSession, sf: str) -> DataFrame:
    return conv_span_profile(transcripts_from_events(spark, sf))


QUERIES["conv_span_1d"] = conv_span_1d
ORACLE["conv_span_1d"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
pc AS (SELECT conv_id, date_trunc('day', min(ts)) AS day_ts,
         CAST(date_diff('day',
           CAST(date_trunc('day', min(ts)) AS DATE),
           CAST(date_trunc('day', max(ts)) AS DATE)) AS BIGINT)
           AS span_days
       FROM t GROUP BY conv_id),
ag AS (SELECT day_ts, CAST(count(*) AS BIGINT) AS n_started,
         CAST(sum(CASE WHEN span_days > 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_multi_day,
         CAST(max(span_days) AS BIGINT) AS max_span_days,
         CAST(sum(span_days) AS BIGINT) AS sum_span_days
       FROM pc GROUP BY day_ts)
SELECT day_ts, n_started, n_multi_day, max_span_days, sum_span_days,
       round(CAST(n_multi_day AS DOUBLE) / CAST(n_started AS DOUBLE), 6)
         AS multi_day_share
FROM ag"""


def signup_purchase_lag(spark: SparkSession, sf: str) -> DataFrame:
    return signup_purchase_lag_daily(transcripts_from_events(spark, sf))


QUERIES["signup_purchase_lag"] = signup_purchase_lag
ORACLE["signup_purchase_lag"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
fs AS (SELECT conv_id,
         min(CASE WHEN role = 'signup' THEN ts END) AS signup_ts
       FROM t GROUP BY conv_id),
j AS (SELECT t.conv_id, t.role, t.ts, fs.signup_ts
      FROM t JOIN fs ON t.conv_id = fs.conv_id
      WHERE fs.signup_ts IS NOT NULL),
pc AS (SELECT conv_id,
         date_trunc('day', min(signup_ts)) AS day_ts,
         epoch_us(min(CASE WHEN role = 'purchase'
             AND ts >= signup_ts THEN ts END))
           - epoch_us(min(signup_ts)) AS lag_us
       FROM j GROUP BY conv_id),
ag AS (SELECT day_ts, CAST(count(*) AS BIGINT) AS n_signups,
         CAST(count(lag_us) AS BIGINT) AS n_converted,
         CAST(sum(lag_us) AS BIGINT) AS sum_lag_us,
         CAST(min(lag_us) AS BIGINT) AS min_lag_us,
         CAST(max(lag_us) AS BIGINT) AS max_lag_us
       FROM pc GROUP BY day_ts)
SELECT day_ts, n_signups, n_converted, sum_lag_us, min_lag_us,
       max_lag_us,
       CASE WHEN n_converted > 0 THEN
         CAST(sum_lag_us // n_converted AS BIGINT) END AS mean_lag_us,
       round(CAST(n_converted AS DOUBLE) / CAST(n_signups AS DOUBLE), 6)
         AS conversion_share
FROM ag"""


def cohort_retention_1w(spark: SparkSession, sf: str) -> DataFrame:
    return cohort_retention_weekly(transcripts_from_events(spark, sf))


QUERIES["cohort_retention_1w"] = cohort_retention_1w
ORACLE["cohort_retention_1w"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
fw AS (SELECT conv_id, min(date_trunc('week', ts)) AS cohort_week
       FROM t GROUP BY conv_id),
act AS (SELECT DISTINCT conv_id, date_trunc('week', ts)
          AS active_week FROM t),
j AS (SELECT a.conv_id, fw.cohort_week, a.active_week
      FROM act a JOIN fw ON a.conv_id = fw.conv_id)
SELECT cohort_week,
       CAST(date_diff('day', CAST(cohort_week AS DATE),
         CAST(active_week AS DATE)) / 7 AS INTEGER) AS offset_week,
       CAST(count(*) AS BIGINT) AS n_convs
FROM j GROUP BY 1, 2"""


def error_convs_1w(spark: SparkSession, sf: str) -> DataFrame:
    return error_convs_weekly(transcripts_from_events(spark, sf))


QUERIES["error_convs_1w"] = error_convs_1w
ORACLE["error_convs_1w"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
per AS (SELECT conv_id, date_trunc('week', ts) AS week_ts,
          CAST(max(CASE WHEN role = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS had_error
        FROM t GROUP BY conv_id, date_trunc('week', ts)),
ag AS (SELECT week_ts, CAST(count(*) AS BIGINT) AS n_convs,
         CAST(sum(had_error) AS BIGINT) AS n_with_error
       FROM per GROUP BY week_ts)
SELECT week_ts, n_convs, n_with_error,
       round(CAST(n_with_error AS DOUBLE) / CAST(n_convs AS DOUBLE), 6)
         AS error_share
FROM ag"""


def audience_overlap_7d(spark: SparkSession, sf: str) -> DataFrame:
    return audience_overlap_weekly(transcripts_from_events(spark, sf))


QUERIES["audience_overlap_7d"] = audience_overlap_7d
ORACLE["audience_overlap_7d"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
act AS (SELECT DISTINCT conv_id, date_trunc('day', ts) AS day FROM t),
shifted AS (SELECT conv_id, day + INTERVAL 7 DAY AS day FROM act),
inter AS (SELECT a.day, CAST(count(*) AS BIGINT) AS n_both
         FROM act a JOIN shifted s
           ON a.conv_id = s.conv_id AND a.day = s.day
         GROUP BY a.day),
today AS (SELECT day, CAST(count(*) AS BIGINT) AS n_today
          FROM act GROUP BY day),
week_ago AS (SELECT day, CAST(count(*) AS BIGINT) AS n_week_ago
             FROM shifted GROUP BY day),
j AS (SELECT t.day, t.n_today,
        CAST(coalesce(w.n_week_ago, 0) AS BIGINT) AS n_week_ago,
        CAST(coalesce(b.n_both, 0) AS BIGINT) AS n_both
      FROM today t
      LEFT JOIN week_ago w ON t.day = w.day
      LEFT JOIN inter b ON t.day = b.day)
SELECT day, n_today, n_week_ago, n_both,
       CASE WHEN n_today + n_week_ago - n_both > 0 THEN
         round(CAST(n_both AS DOUBLE)
           / CAST(n_today + n_week_ago - n_both AS DOUBLE), 6) END
         AS jaccard,
       CASE WHEN n_week_ago > 0 THEN
         round(CAST(n_both AS DOUBLE)
           / CAST(n_week_ago AS DOUBLE), 6) END AS return_share
FROM j"""


def oracle() -> dict[str, str]:
    return ORACLE
