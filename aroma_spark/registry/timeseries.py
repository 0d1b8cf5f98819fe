"""Per-conversation time-series operators over the signal frame:
sliding windows, downsampling, smoothing, symbolic encodings,
multiscale and forecast diagnostics, sequence shape and anomalies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as SqlWindow
from pyspark.sql import functions as F

from aroma_spark.operators.anomaly import (
    hist_drift_daily,
    latency_by_len_bucket,
    latency_spread_daily,
    level_shift_score,
    peak_hour_by_dow,
    residual_autocorr_hourly,
    rolling_zscore,
    seasonal_profile,
    seasonal_residual_outliers,
    slo_burn_rate,
)
from aroma_spark.operators.downsample import (
    counter_increase,
    lttb_downsample,
    m4_downsample,
    time_weighted_avg,
)
from aroma_spark.operators.forecast import (
    mase_like_sql,
    rs_range,
    rs_sql,
    seasonal_backtest_daily,
)
from aroma_spark.operators.multiscale import (
    acf_profile,
    haar_energy,
    tp_z_sql,
    turning_points,
    variance_ratio,
    vr_sql,
)
from aroma_spark.operators.rolling import (
    bollinger_bands,
    hourly_irate,
    irate_sql,
    rolling_window_stats,
)
from aroma_spark.operators.seqshape import (
    activity_heatmap,
    breach_episodes,
    drawdown_stats,
    gap_outages,
    local_extrema,
    longest_monotone_run,
    longest_role_streak,
    record_turns,
    spearman_corr,
    turn_overlap,
    underwater_streaks,
)
from aroma_spark.operators.smoothing import ewma_smooth, holt_smooth
from aroma_spark.operators.symbolize import paa_segments, sax_words
from aroma_spark.operators.tiers import rollup_lattice
from aroma_spark.registry import Query
from aroma_spark.registry.lattice import SIG_SQL, _signals
from aroma_spark.registry.statistics import _corr_agg, _corr_sql
from aroma_spark.sources.transcripts import TRANSCRIPTS_SQL, transcripts_from_events

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}


# --- trailing 1h sliding-window stats per turn (time-range frame) ---
def rolling_1h(spark: SparkSession, sf: str) -> DataFrame:
    return rolling_window_stats(_signals(spark, sf), "1 hour")


QUERIES["rolling_1h"] = rolling_1h
ORACLE["rolling_1h"] = f"""{SIG_SQL}
SELECT conv_id, turn_idx, ts,
       CAST(count(*) OVER w AS BIGINT) AS w_n_turns,
       CAST(sum(inter_time_us) OVER w AS BIGINT) AS w_sum_latency_us,
       CAST(max(inter_time_us) OVER w AS BIGINT) AS w_max_latency_us,
       CAST(sum(text_len) OVER w AS BIGINT) AS w_sum_text_len,
       CAST(sum(tool_call) OVER w AS BIGINT) AS w_tool_calls
FROM sig
WINDOW w AS (PARTITION BY conv_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"""


# --- M4 chart downsampling (Jugel et al., VLDB 2014): per (conv,
# hour) keep only first/last/min/max points — pixel-perfect line
# charts from a pure aggregation (parallel, unlike sequential LTTB)
def m4_1h(spark: SparkSession, sf: str) -> DataFrame:
    return m4_downsample(_signals(spark, sf), "hour")


QUERIES["m4_downsample_1h"] = m4_1h
# M4: the four row_number orderings mirror the engine's lexicographic
# struct min/max tie-breaks exactly (ts,turn / v,ts,turn)
ORACLE["m4_downsample_1h"] = f"""{SIG_SQL},
r AS (SELECT conv_id, date_trunc('hour', ts) AS bucket_ts, ts,
        CAST(turn_idx AS BIGINT) AS turn_idx,
        CAST(inter_time_us AS BIGINT) AS value,
        row_number() OVER (PARTITION BY conv_id, date_trunc('hour', ts)
          ORDER BY ts, turn_idx) AS rf,
        row_number() OVER (PARTITION BY conv_id, date_trunc('hour', ts)
          ORDER BY ts DESC, turn_idx DESC) AS rl,
        row_number() OVER (PARTITION BY conv_id, date_trunc('hour', ts)
          ORDER BY inter_time_us, ts, turn_idx) AS rmin,
        row_number() OVER (PARTITION BY conv_id, date_trunc('hour', ts)
          ORDER BY inter_time_us DESC, ts DESC, turn_idx DESC) AS rmax
      FROM sig)
SELECT DISTINCT conv_id, bucket_ts, ts, turn_idx, value
FROM r WHERE rf = 1 OR rl = 1 OR rmin = 1 OR rmax = 1"""


# --- reset-aware counter increase (PromQL semantics) over a
# deterministic cumulative counter derived from the transcripts
# (running text_len mod 10000 — the mod forces resets so the reset
# branch is actually exercised by the oracle)
def counter_rate_1h(spark: SparkSession, sf: str) -> DataFrame:
    w = SqlWindow.partitionBy("conv_id").orderBy("turn_idx")
    ctr = (F.sum("text_len").over(w) % 10000).cast("long")
    return counter_increase(
        _signals(spark, sf).withColumn("counter", ctr), "hour"
    )


QUERIES["counter_rate_1h"] = counter_rate_1h
# counter increase: same derived counter (running text_len mod 1e4),
# same PromQL reset rule (decrease -> sample's own value)
ORACLE["counter_rate_1h"] = f"""{SIG_SQL},
c AS (SELECT conv_id, turn_idx, ts,
        CAST(sum(text_len) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             % 10000 AS BIGINT) AS ctr
      FROM sig),
d AS (SELECT conv_id, ts, ctr,
        lag(ctr) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
      FROM c)
SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
       CAST(sum(CASE WHEN prev IS NULL THEN 0
                     WHEN ctr < prev THEN ctr
                     ELSE ctr - prev END) AS BIGINT) AS increase,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(CASE WHEN prev IS NOT NULL AND ctr < prev
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_resets
FROM d GROUP BY 1, 2"""


# --- LOCF time-weighted average text length per (conv, hour):
# integer-exact weighted_sum/duration partials + one rounded division.
# value=text_len (bounded) keeps value*duration_us inside int64 —
# see the operator docstring's overflow bound
def twa_1h(spark: SparkSession, sf: str) -> DataFrame:
    return time_weighted_avg(_signals(spark, sf), "hour", "text_len")


QUERIES["twa_1h"] = twa_1h
# time-weighted avg: segment-interior LOCF weights, integer partials,
# one rounded division (NULL when the bucket has no interior segment)
ORACLE["twa_1h"] = f"""{SIG_SQL},
x AS (SELECT conv_id, date_trunc('hour', ts) AS b, text_len AS v,
        epoch_us(ts) AS tsu,
        lead(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nts,
        lead(date_trunc('hour', ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nb
      FROM sig),
g AS (SELECT conv_id, b AS bucket_ts,
        CAST(sum(CASE WHEN nb = b THEN v * (nts - tsu) END) AS BIGINT) AS weighted_sum,
        CAST(sum(CASE WHEN nb = b THEN nts - tsu END) AS BIGINT) AS duration_us
      FROM x GROUP BY 1, 2)
SELECT conv_id, bucket_ts, weighted_sum, duration_us,
       CASE WHEN duration_us > 0
            THEN round(CAST(weighted_sum AS DOUBLE) / duration_us, 6)
       END AS twa
FROM g"""


# --- trailing-window z-score anomalies: integer window partials
# (n, sum, sumsq) shuffled, z = (n*x - s)/sqrt(n*ssq - s^2) as one
# rounded float at the end; |z| > 2 flags the anomaly
def zscore_1h(spark: SparkSession, sf: str) -> DataFrame:
    return rolling_zscore(_signals(spark, sf), "1 hour", "text_len", 2.0)


QUERIES["zscore_1h"] = zscore_1h
# z from integer window partials; same trailing range frame as
# rolling_1h; one rounded float at the end
ORACLE["zscore_1h"] = f"""{SIG_SQL},
x AS (SELECT conv_id, turn_idx, ts, CAST(text_len AS BIGINT) AS value,
        CAST(count(*) OVER w AS BIGINT) AS w_n,
        CAST(sum(text_len) OVER w AS BIGINT) AS w_sum,
        CAST(sum(text_len * text_len) OVER w AS BIGINT) AS w_sumsq
      FROM sig
      WINDOW w AS (PARTITION BY conv_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)),
zc AS (SELECT *, CASE WHEN w_n * w_sumsq - w_sum * w_sum > 0
          THEN round(CAST(w_n * value - w_sum AS DOUBLE)
                     / sqrt(CAST(w_n * w_sumsq - w_sum * w_sum AS DOUBLE)), 6)
        END AS z
       FROM x)
SELECT conv_id, turn_idx, ts, value, w_n, w_sum, w_sumsq, z,
       COALESCE(abs(z) > 2.0, false) AS is_anomaly
FROM zc"""


# --- weekly-phase seasonality profile per role (dow x hour-of-day
# continuous aggregate; tiny key space, map-side combined)
def seasonal_q(spark: SparkSession, sf: str) -> DataFrame:
    return seasonal_profile(_signals(spark, sf))


QUERIES["seasonal_profile"] = seasonal_q
# weekly-phase profile; DuckDB dayofweek is Sunday=0, Spark's is
# Sunday=1 — the +1 aligns them
ORACLE["seasonal_profile"] = f"""{SIG_SQL}
SELECT role,
       CAST(dayofweek(ts) + 1 AS INT) AS dow,
       CAST(hour(ts) AS INT) AS hod,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(inter_time_us) AS BIGINT) AS sum_latency_us,
       CAST(sum(text_len) AS BIGINT) AS sum_text_len,
       CAST(sum(tool_call) AS BIGINT) AS sum_tool_calls,
       CAST(sum(inter_time_us) // count(*) AS BIGINT)
         AS mean_latency_us
FROM sig GROUP BY 1, 2, 3"""


# --- EWMA smoothing: sequential recurrence confined to Arrow
# conversation groups; the DuckDB twin is a recursive CTE spelling
# the IDENTICAL float expression, so trajectories match bit-for-bit
def ewma_q(spark: SparkSession, sf: str) -> DataFrame:
    return ewma_smooth(_signals(spark, sf), 0.3, "text_len")


QUERIES["ewma_text_len"] = ewma_q
# EWMA: recursive CTE walking turn_idx (contiguous 0-based per
# conversation by construction) with the literal float expression
# (1 - 0.3)*y + 0.3*x — the same correctly-rounded IEEE sequence the
# engine's Arrow loop executes, so no rounding fudge is needed
ORACLE["ewma_text_len"] = (
    SIG_SQL.replace("WITH t AS", "WITH RECURSIVE t AS", 1)
    + """,
x AS (SELECT conv_id, turn_idx, ts, CAST(text_len AS DOUBLE) AS value
      FROM sig),
e AS (
  SELECT conv_id, turn_idx, ts, value, value AS ewma
  FROM x WHERE turn_idx = 0
  UNION ALL
  SELECT s.conv_id, s.turn_idx, s.ts, s.value,
         (1 - 0.3) * e.ewma + 0.3 * s.value AS ewma
  FROM x s JOIN e ON s.conv_id = e.conv_id AND s.turn_idx = e.turn_idx + 1
)
SELECT conv_id, turn_idx, ts, value, ewma FROM e"""
)


# --- window-sliding changepoint score (level shift over w=8 turns,
# integer-exact threshold compare at mean-shift > 50)
def level_shift_w8(spark: SparkSession, sf: str) -> DataFrame:
    return level_shift_score(_signals(spark, sf), "text_len", 8, 50)


QUERIES["level_shift_w8"] = level_shift_w8
# window-sliding changepoint: two ROWS frames, integer sums,
# integer threshold compare (|sum_after - sum_before| > 50*8)
ORACLE["level_shift_w8"] = f"""{SIG_SQL}
SELECT conv_id, turn_idx, ts, CAST(text_len AS BIGINT) AS value,
       CAST(sum(text_len) OVER wb AS BIGINT) AS sum_before,
       CAST(sum(text_len) OVER wa AS BIGINT) AS sum_after,
       CAST(abs(sum(text_len) OVER wa - sum(text_len) OVER wb) AS BIGINT)
         AS shift_score_x_w,
       round(CAST(sum(text_len) OVER wa - sum(text_len) OVER wb AS DOUBLE)
             / 8.0, 6) AS mean_shift,
       abs(sum(text_len) OVER wa - sum(text_len) OVER wb) > 400 AS is_shift
FROM sig
WINDOW wb AS (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
       wa AS (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN 1 FOLLOWING AND 8 FOLLOWING)
QUALIFY count(*) OVER wb = 8 AND count(*) OVER wa = 8"""


# --- PAA segments + SAX words (Lin et al., DMKD 2003): the
# indexable whole-series sketch; letters from one fixed double
# expression over int64 sufficient statistics
def paa_8(spark: SparkSession, sf: str) -> DataFrame:
    return paa_segments(_signals(spark, sf), "text_len", 8)


QUERIES["paa_8"] = paa_8

# PAA / SAX: integer segment ids floor(i*w/n); SAX z from the exact
# int64 sufficient-statistic form (n*s - S*c) / (c * sqrt(n*SSQ - S^2))
_paa_base = f"""{SIG_SQL},
r AS (SELECT conv_id, CAST(text_len AS BIGINT) AS v,
        CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1
             AS BIGINT) AS i,
        CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n,
        CAST(sum(text_len) OVER (PARTITION BY conv_id) AS BIGINT) AS s_all,
        CAST(sum(text_len * text_len) OVER (PARTITION BY conv_id)
             AS BIGINT) AS ssq_all
      FROM sig),
f AS (SELECT *, CAST((i * 8) // n AS INT) AS seg FROM r WHERE n >= 8)"""

ORACLE["paa_8"] = f"""{_paa_base}
SELECT conv_id, seg, CAST(count(*) AS BIGINT) AS c,
       CAST(sum(v) AS BIGINT) AS s,
       round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS paa_mean
FROM f GROUP BY conv_id, seg"""


def sax_8(spark: SparkSession, sf: str) -> DataFrame:
    return sax_words(_signals(spark, sf), "text_len", 8)


QUERIES["sax_8"] = sax_8
ORACLE["sax_8"] = f"""{_paa_base},
segs AS (SELECT conv_id, seg, n, s_all, ssq_all,
           CAST(count(*) AS BIGINT) AS c, CAST(sum(v) AS BIGINT) AS s
         FROM f GROUP BY conv_id, seg, n, s_all, ssq_all),
z AS (SELECT conv_id, seg, n,
        CASE WHEN (n * ssq_all - s_all * s_all) > 0
          THEN CAST(n * s - s_all * c AS DOUBLE)
               / (CAST(c AS DOUBLE)
                  * sqrt(CAST(n * ssq_all - s_all * s_all AS DOUBLE)))
          ELSE 0.0 END AS zz
      FROM segs),
l AS (SELECT conv_id, n, seg,
        CASE WHEN zz < -0.6744897501960817 THEN 'a'
             WHEN zz < 0.0 THEN 'b'
             WHEN zz < 0.6744897501960817 THEN 'c'
             ELSE 'd' END AS letter
      FROM z)
SELECT conv_id, n AS n_turns,
       string_agg(letter, '' ORDER BY seg) AS sax_word
FROM l GROUP BY conv_id, n"""


# --- LTTB downsampling (Steinarsson 2013): the sequential
# chart downsampler as per-conversation Arrow groups; DuckDB twin
# replays the previous-point recurrence as a recursive CTE
def lttb_12(spark: SparkSession, sf: str) -> DataFrame:
    return lttb_downsample(_signals(spark, sf), 12, "text_len")


QUERIES["lttb_12"] = lttb_12
# LTTB: the previous-point recurrence replayed bucket-by-bucket as a
# recursive CTE; the area key is the identical double expression the
# Arrow implementation evaluates (exact int64 factors, one rounding
# each), ties broken (x asc, turn_idx asc)
ORACLE["lttb_12"] = f"""WITH RECURSIVE t AS ({TRANSCRIPTS_SQL}),
sig AS (
  SELECT conv_id, turn_idx, ts,
         CAST(COALESCE(length(text), 0) AS BIGINT) AS y,
         epoch_us(ts) - min(epoch_us(ts))
           OVER (PARTITION BY conv_id) AS x,
         CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1
              AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n
  FROM t
),
small AS (SELECT conv_id, turn_idx, ts, y AS value, CAST(i AS INT) AS bucket
          FROM sig WHERE n <= 12),
big AS (SELECT *, CAST(CASE WHEN i = 0 THEN 0 WHEN i = n - 1 THEN 11
                 ELSE 1 + ((i - 1) * 10) // (n - 2) END AS BIGINT) AS b
        FROM sig WHERE n > 12),
cent AS (SELECT conv_id, b, CAST(count(*) AS BIGINT) AS m,
                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
         FROM big GROUP BY conv_id, b),
sel AS (
  SELECT conv_id, b, x, y, turn_idx, ts FROM big WHERE b = 0
  UNION ALL
  SELECT c.conv_id, c.b, c.x, c.y, c.turn_idx, c.ts
  FROM sel s
  JOIN big c ON c.conv_id = s.conv_id AND c.b = s.b + 1 AND c.b <= 10
  JOIN cent ct ON ct.conv_id = c.conv_id AND ct.b = c.b + 1
  QUALIFY row_number() OVER (PARTITION BY c.conv_id ORDER BY
    abs(CAST(s.x * ct.m - ct.sx AS DOUBLE) * CAST(c.y - s.y AS DOUBLE)
      - CAST(s.x - c.x AS DOUBLE) * CAST(s.y * ct.m - ct.sy AS DOUBLE))
      DESC, c.x ASC, c.turn_idx ASC) = 1
)
SELECT conv_id, turn_idx, ts, CAST(y AS BIGINT) AS value,
       CAST(b AS INT) AS bucket FROM sel
UNION ALL
SELECT conv_id, turn_idx, ts, CAST(y AS BIGINT), 11 FROM big WHERE b = 11
UNION ALL
SELECT conv_id, turn_idx, ts, value, bucket FROM small"""


# --- Holt double-exponential smoothing (level + trend), the
# trend-aware EWMA; DuckDB twin replays the coupled recurrences
def holt_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return holt_smooth(_signals(spark, sf), 0.3, 0.1, "text_len")


QUERIES["holt_text_len"] = holt_text_len
# Holt level+trend: the coupled recurrences spelled in the exact
# literal order the Arrow implementation evaluates (see ewma twin)
ORACLE["holt_text_len"] = (
    SIG_SQL.replace("WITH t AS", "WITH RECURSIVE t AS", 1)
    + """,
x AS (SELECT conv_id, turn_idx, ts, CAST(text_len AS DOUBLE) AS value
      FROM sig),
h AS (
  SELECT conv_id, turn_idx, ts, value, value AS level,
         CAST(0.0 AS DOUBLE) AS trend
  FROM x WHERE turn_idx = 0
  UNION ALL
  SELECT s.conv_id, s.turn_idx, s.ts, s.value,
         0.3 * s.value + (1 - 0.3) * (h.level + h.trend) AS level,
         0.1 * ((0.3 * s.value + (1 - 0.3) * (h.level + h.trend))
                - h.level)
           + (1 - 0.1) * h.trend AS trend
  FROM x s JOIN h ON s.conv_id = h.conv_id AND s.turn_idx = h.turn_idx + 1
)
SELECT conv_id, turn_idx, ts, value, level, trend FROM h"""
)


def bollinger_1h(spark: SparkSession, sf: str) -> DataFrame:
    tier = rollup_lattice(_signals(spark, sf), materialize=False)["1h"]
    return bollinger_bands(
        tier, value_col="sum_text_len", n_buckets=24, k=2.0
    )


QUERIES["bollinger_1h"] = bollinger_1h
ORACLE["bollinger_1h"] = f"""{SIG_SQL},
r AS (SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
        CAST(sum(text_len) AS BIGINT) AS v
      FROM sig GROUP BY 1, 2),
w AS (SELECT conv_id, bucket_ts, v,
        CAST(count(*) OVER win AS BIGINT) AS w_n,
        CAST(sum(v) OVER win AS BIGINT) AS w_s1,
        CAST(sum(v * v) OVER win AS BIGINT) AS w_s2
      FROM r
      WINDOW win AS (PARTITION BY conv_id ORDER BY bucket_ts
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
SELECT conv_id, bucket_ts, v AS value, w_n,
       CAST(w_s1 AS DOUBLE) / CAST(w_n AS DOUBLE) AS mean,
       sqrt(CAST(w_n AS DOUBLE) * CAST(w_s2 AS DOUBLE)
            - CAST(w_s1 AS DOUBLE) * CAST(w_s1 AS DOUBLE))
         / CAST(w_n AS DOUBLE) AS sd,
       CAST(w_s1 AS DOUBLE) / CAST(w_n AS DOUBLE)
         + 2.0 * (sqrt(CAST(w_n AS DOUBLE) * CAST(w_s2 AS DOUBLE)
                       - CAST(w_s1 AS DOUBLE) * CAST(w_s1 AS DOUBLE))
                  / CAST(w_n AS DOUBLE)) AS upper,
       CAST(w_s1 AS DOUBLE) / CAST(w_n AS DOUBLE)
         - 2.0 * (sqrt(CAST(w_n AS DOUBLE) * CAST(w_s2 AS DOUBLE)
                       - CAST(w_s1 AS DOUBLE) * CAST(w_s1 AS DOUBLE))
                  / CAST(w_n AS DOUBLE)) AS lower
FROM w"""


def spearman_len_latency(spark: SparkSession, sf: str) -> DataFrame:
    return spearman_corr(_signals(spark, sf))


QUERIES["spearman_len_latency"] = spearman_len_latency
# Spearman reuses the shared corr agg/combination over DOUBLED average
# ranks (2*rank_min + ties - 1, exact int64 — Pearson is
# affine-invariant so the result is Spearman's rho).
ORACLE["spearman_len_latency"] = f"""{SIG_SQL},
p AS (SELECT conv_id,
        2 * rank() OVER (PARTITION BY conv_id
              ORDER BY CAST(text_len AS BIGINT))
          + count(*) OVER (PARTITION BY conv_id,
              CAST(text_len AS BIGINT)) - 1 AS x,
        2 * rank() OVER (PARTITION BY conv_id
              ORDER BY CAST(inter_time_us AS BIGINT))
          + count(*) OVER (PARTITION BY conv_id,
              CAST(inter_time_us AS BIGINT)) - 1 AS y
      FROM sig),
a AS ({_corr_agg})
SELECT conv_id, n AS n_pairs, {_corr_sql} AS spearman FROM a"""


def role_streaks(spark: SparkSession, sf: str) -> DataFrame:
    return longest_role_streak(transcripts_from_events(spark, sf))


QUERIES["role_streaks"] = role_streaks
ORACLE["role_streaks"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
i AS (SELECT conv_id, role, turn_idx,
        turn_idx - row_number() OVER
          (PARTITION BY conv_id, role ORDER BY turn_idx) AS island
      FROM t),
runs AS (SELECT conv_id, role,
           CAST(count(*) AS BIGINT) AS streak_len,
           CAST(min(turn_idx) AS INT) AS streak_start
         FROM i GROUP BY conv_id, role, island),
ranked AS (SELECT conv_id, role, streak_len, streak_start,
             row_number() OVER (PARTITION BY conv_id
               ORDER BY streak_len DESC, streak_start ASC) AS rk,
             CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT)
               AS n_islands
           FROM runs)
SELECT conv_id, role AS streak_role, streak_len, streak_start, n_islands
FROM ranked WHERE rk = 1"""


def drawdown_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return drawdown_stats(_signals(spark, sf), value_col="text_len")


QUERIES["drawdown_text_len"] = drawdown_text_len
ORACLE["drawdown_text_len"] = f"""{SIG_SQL},
r AS (SELECT conv_id, CAST(text_len AS BIGINT) AS v,
        max(CAST(text_len AS BIGINT)) OVER (PARTITION BY conv_id
          ORDER BY turn_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - CAST(text_len AS BIGINT) AS dd
      FROM sig)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(max(v) AS BIGINT) AS peak,
       CAST(max(dd) AS BIGINT) AS max_drawdown
FROM r GROUP BY conv_id"""


def extrema_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return local_extrema(_signals(spark, sf), value_col="text_len")


QUERIES["extrema_text_len"] = extrema_text_len
ORACLE["extrema_text_len"] = f"""{SIG_SQL},
r AS (SELECT conv_id, CAST(text_len AS BIGINT) AS v,
        lag(CAST(text_len AS BIGINT)) OVER
          (PARTITION BY conv_id ORDER BY turn_idx) AS pv,
        lead(CAST(text_len AS BIGINT)) OVER
          (PARTITION BY conv_id ORDER BY turn_idx) AS nv
      FROM sig)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
                      AND v > pv AND v > nv THEN 1 ELSE 0 END)
            AS BIGINT) AS n_peaks,
       CAST(sum(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
                      AND v < pv AND v < nv THEN 1 ELSE 0 END)
            AS BIGINT) AS n_troughs
FROM r GROUP BY conv_id"""


def gap_outages_5m(spark: SparkSession, sf: str) -> DataFrame:
    return gap_outages(_signals(spark, sf), threshold_us=300_000_000)


QUERIES["gap_outages_5m"] = gap_outages_5m
ORACLE["gap_outages_5m"] = f"""{SIG_SQL}
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN inter_time_us > 300000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outages,
       CAST(max(inter_time_us) AS BIGINT) AS max_gap_us,
       CAST(sum(CASE WHEN inter_time_us > 300000000
                THEN inter_time_us ELSE 0 END) AS BIGINT) AS sum_outage_us
FROM sig GROUP BY conv_id
HAVING sum(CASE WHEN inter_time_us > 300000000 THEN 1 ELSE 0 END) > 0"""


def activity_heatmap_q(spark: SparkSession, sf: str) -> DataFrame:
    return activity_heatmap(transcripts_from_events(spark, sf))


QUERIES["activity_heatmap"] = activity_heatmap_q
ORACLE["activity_heatmap"] = f"""WITH t AS ({TRANSCRIPTS_SQL})
SELECT CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS INT) AS dow,
       CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS hod,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM t GROUP BY dow, hod"""


def latency_episodes_5m(spark: SparkSession, sf: str) -> DataFrame:
    return breach_episodes(_signals(spark, sf), threshold_us=300_000_000)


QUERIES["latency_episodes_5m"] = latency_episodes_5m
# Breach episodes / record turns / monotone runs (sequence runs,
# operators/seqshape.py) + Lorenz deciles / Gini / Benford (corpus
# distribution, operators/distribution.py). The rank statistics are
# block-decomposed over the distinct-count histogram in BOTH engines —
# identical integer arithmetic, no per-conversation ranking (see
# distribution.py module docstring).
ORACLE["latency_episodes_5m"] = f"""{SIG_SQL},
b AS (SELECT conv_id, turn_idx, CAST(inter_time_us AS BIGINT) AS gap_us,
        turn_idx - row_number() OVER
          (PARTITION BY conv_id ORDER BY turn_idx) AS island
      FROM sig WHERE inter_time_us > 300000000),
ep AS (SELECT conv_id, island,
         CAST(count(*) AS BIGINT) AS ep_len,
         CAST(sum(gap_us) AS BIGINT) AS ep_us
       FROM b GROUP BY conv_id, island)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_episodes,
       CAST(max(ep_len) AS BIGINT) AS max_episode_len,
       CAST(sum(ep_len) AS BIGINT) AS total_breach_turns,
       CAST(sum(ep_us) AS BIGINT) AS sum_breach_us
FROM ep GROUP BY conv_id"""


def record_turns_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return record_turns(_signals(spark, sf), value_col="text_len")


QUERIES["record_turns_text_len"] = record_turns_text_len
ORACLE["record_turns_text_len"] = f"""{SIG_SQL},
r AS (SELECT conv_id, turn_idx,
        CASE WHEN max(CAST(text_len AS BIGINT)) OVER
               (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               IS NULL
             OR CAST(text_len AS BIGINT) >
               max(CAST(text_len AS BIGINT)) OVER
               (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS is_record
      FROM sig)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(is_record) AS BIGINT) AS n_records,
       CAST(max(CASE WHEN is_record = 1 THEN turn_idx END) AS INT)
         AS last_record_turn
FROM r GROUP BY conv_id"""


def monotone_runs_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return longest_monotone_run(_signals(spark, sf), value_col="text_len")


QUERIES["monotone_runs_text_len"] = monotone_runs_text_len
ORACLE["monotone_runs_text_len"] = f"""{SIG_SQL},
base AS (SELECT conv_id, turn_idx, CAST(text_len AS BIGINT) AS v,
           row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS rn,
           lag(CAST(text_len AS BIGINT)) OVER
             (PARTITION BY conv_id ORDER BY turn_idx) AS pv
         FROM sig),
incs AS (SELECT conv_id,
           rn - row_number() OVER
             (PARTITION BY conv_id ORDER BY turn_idx) AS island
         FROM base WHERE pv IS NOT NULL AND v > pv),
runs AS (SELECT conv_id, CAST(max(n_incs) AS BIGINT) AS max_incs
         FROM (SELECT conv_id, island, count(*) AS n_incs
               FROM incs GROUP BY conv_id, island)
         GROUP BY conv_id),
tot AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns
        FROM base GROUP BY conv_id)
SELECT t.conv_id, t.n_turns,
       CAST(COALESCE(r.max_incs, 0) + 1 AS BIGINT) AS longest_inc_run
FROM tot t LEFT JOIN runs r ON t.conv_id = r.conv_id"""


def latency_drift_daily(spark: SparkSession, sf: str) -> DataFrame:
    return hist_drift_daily(_signals(spark, sf))


QUERIES["latency_drift_daily"] = latency_drift_daily
ORACLE["latency_drift_daily"] = f"""{SIG_SQL},
h AS (SELECT CAST(ts AS DATE) AS day,
        CAST(CASE WHEN inter_time_us <= 0 THEN 0
             ELSE length(format('{{:b}}', inter_time_us)) END AS INT)
          AS bin,
        CAST(count(*) AS BIGINT) AS cnt
      FROM sig GROUP BY day, bin),
j AS (SELECT COALESCE(l.pair_day, r.pair_day) AS pair_day,
        COALESCE(l.bin, r.bin) AS bin,
        CAST(COALESCE(l.cnt, 0) AS BIGINT) AS cnt_l,
        CAST(COALESCE(r.cnt, 0) AS BIGINT) AS cnt_r
      FROM (SELECT day AS pair_day, bin, cnt FROM h) l
      FULL OUTER JOIN (SELECT day - 1 AS pair_day, bin, cnt FROM h) r
      ON l.pair_day = r.pair_day AND l.bin = r.bin),
tw AS (SELECT pair_day, cnt_l, cnt_r,
        CAST(sum(cnt_l) OVER (PARTITION BY pair_day) AS BIGINT)
          AS total_l,
        CAST(sum(cnt_r) OVER (PARTITION BY pair_day) AS BIGINT)
          AS total_r
      FROM j),
a AS (SELECT pair_day,
        CAST(sum(abs(cnt_l * total_r - cnt_r * total_l)) AS BIGINT)
          AS num,
        CAST(max(total_l) AS BIGINT) AS total_l,
        CAST(max(total_r) AS BIGINT) AS total_r
      FROM tw GROUP BY pair_day
      HAVING max(total_l) > 0 AND max(total_r) > 0)
SELECT pair_day AS day, total_l, total_r,
       CAST(num AS DOUBLE)
         / (CAST(total_l AS DOUBLE) * CAST(total_r AS DOUBLE)) AS l1
FROM a"""


def slo_burn_1h(spark: SparkSession, sf: str) -> DataFrame:
    return slo_burn_rate(_signals(spark, sf))


QUERIES["slo_burn_1h"] = slo_burn_1h
# Multi-window SLO burn-rate alerts (integer cross-multiplied predicate,
# hourly aggregate + calendar-sized trailing window) and PMI bigram
# collocations (exact int64 counts, ONE shared ln expression).
ORACLE["slo_burn_1h"] = f"""{SIG_SQL},
h AS (SELECT date_trunc('hour', ts) AS hour_ts,
        CAST(count(*) AS BIGINT) AS n_turns,
        CAST(sum(CASE WHEN inter_time_us > 300000000 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_bad
      FROM sig GROUP BY hour_ts),
s AS (SELECT hour_ts, n_turns, n_bad,
        CAST(sum(n_turns) OVER w AS BIGINT) AS n_slow,
        CAST(sum(n_bad) OVER w AS BIGINT) AS bad_slow
      FROM h
      WINDOW w AS (ORDER BY hour_ts RANGE BETWEEN
        INTERVAL 5 HOUR PRECEDING AND CURRENT ROW))
SELECT hour_ts, n_turns, n_bad, n_slow, bad_slow,
       round(CAST(n_bad AS DOUBLE) * 1000000.0
         / (CAST(n_turns AS DOUBLE) * 1000.0), 6) AS burn_fast,
       round(CAST(bad_slow AS DOUBLE) * 1000000.0
         / (CAST(n_slow AS DOUBLE) * 1000.0), 6) AS burn_slow,
       CAST(CASE WHEN 10000000 * n_bad >= 144000 * n_turns
                  AND 10000000 * bad_slow >= 144000 * n_slow
            THEN 1 ELSE 0 END AS INT) AS alert
FROM s"""


def turn_repetition(spark: SparkSession, sf: str) -> DataFrame:
    return turn_overlap(transcripts_from_events(spark, sf))


QUERIES["turn_repetition"] = turn_repetition
# Adjacent-turn token-set overlap (agent-loop detection; exact int64 set
# sizes, inclusion-exclusion union) and nearest-rank p50/p90/p95/p99
# latency bands.
ORACLE["turn_repetition"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
tok AS (SELECT conv_id, turn_idx,
          unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                       '\\s+')) AS term
        FROM t),
tk AS (SELECT DISTINCT conv_id, turn_idx, term FROM tok
       WHERE term <> ''),
sz AS (SELECT conv_id, turn_idx, CAST(count(*) AS BIGINT) AS n_set
       FROM tk GROUP BY conv_id, turn_idx),
cm AS (SELECT b.conv_id, b.turn_idx,
         CAST(count(*) AS BIGINT) AS n_common
       FROM tk a JOIN tk b ON a.conv_id = b.conv_id
         AND a.turn_idx = b.turn_idx - 1 AND a.term = b.term
       GROUP BY b.conv_id, b.turn_idx),
sp AS (SELECT conv_id, turn_idx FROM t WHERE turn_idx >= 1),
j AS (SELECT sp.conv_id, sp.turn_idx,
        CAST(COALESCE(cur.n_set, 0) AS BIGINT) AS n_terms,
        CAST(COALESCE(prv.n_set, 0) AS BIGINT) AS n_prev_terms,
        CAST(COALESCE(cm.n_common, 0) AS BIGINT) AS n_common
      FROM sp
      LEFT JOIN sz cur ON sp.conv_id = cur.conv_id
        AND sp.turn_idx = cur.turn_idx
      LEFT JOIN sz prv ON sp.conv_id = prv.conv_id
        AND sp.turn_idx = prv.turn_idx + 1
      LEFT JOIN cm ON sp.conv_id = cm.conv_id
        AND sp.turn_idx = cm.turn_idx)
SELECT conv_id, turn_idx, n_terms, n_prev_terms, n_common,
       CASE WHEN n_terms + n_prev_terms - n_common > 0 THEN
         round(CAST(n_common AS DOUBLE)
           / CAST(n_terms + n_prev_terms - n_common AS DOUBLE), 6)
       END AS jaccard
FROM j"""


def seasonal_backtest(spark: SparkSession, sf: str) -> DataFrame:
    return seasonal_backtest_daily(_signals(spark, sf))


QUERIES["seasonal_backtest"] = seasonal_backtest
# Seasonal-naive vs naive backtest on the hourly rollup, and the
# rescaled-range statistic with integral prefix deviations D'_k = n*P_k
# - k*S; ONE shared float expression per statistic (mase_like_sql /
# rs_sql).
ORACLE["seasonal_backtest"] = f"""{SIG_SQL},
hourly AS (SELECT date_trunc('hour', ts) AS hour_ts,
             CAST(count(*) AS BIGINT) AS n
           FROM sig GROUP BY 1),
j AS (SELECT h.hour_ts, h.n, s24.n AS n_s24, s1.n AS n_s1
      FROM hourly h
      LEFT JOIN hourly s24
        ON h.hour_ts = s24.hour_ts + INTERVAL 24 HOURS
      LEFT JOIN hourly s1
        ON h.hour_ts = s1.hour_ts + INTERVAL 1 HOUR),
ag AS (SELECT date_trunc('day', hour_ts) AS day,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(abs(n - n_s24)) AS BIGINT) AS sae_seasonal,
         CAST(count(n_s24) AS BIGINT) AS cnt_seasonal,
         CAST(sum(abs(n - n_s1)) AS BIGINT) AS sae_naive,
         CAST(count(n_s1) AS BIGINT) AS cnt_naive
       FROM j GROUP BY day)
SELECT day AS day_ts, n_hours, sae_seasonal, cnt_seasonal, sae_naive,
       cnt_naive, {mase_like_sql()} AS mase_like
FROM ag WHERE cnt_seasonal > 0 AND cnt_naive > 0"""


def rs_range_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return rs_range(_signals(spark, sf))


QUERIES["rs_range_text_len"] = rs_range_text_len
ORACLE["rs_range_text_len"] = f"""{SIG_SQL},
vr AS (SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
         CAST(text_len AS BIGINT) AS v FROM sig),
stp AS (SELECT conv_id,
          CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT)
            * sum(v) OVER (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - CAST(count(*) OVER (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT)
            * sum(v) OVER (PARTITION BY conv_id) AS d_k,
          CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT)
            AS n_points,
          CAST(sum(v) OVER (PARTITION BY conv_id) AS BIGINT) AS s_sum,
          CAST(sum(v * v) OVER (PARTITION BY conv_id) AS BIGINT)
            AS q_sum
        FROM vr),
ag AS (SELECT conv_id, CAST(max(n_points) AS BIGINT) AS n_points,
         CAST(max(s_sum) AS BIGINT) AS s_sum,
         CAST(max(q_sum) AS BIGINT) AS q_sum,
         CAST(max(d_k) - min(d_k) AS BIGINT) AS r_scaled
       FROM stp GROUP BY conv_id HAVING max(n_points) >= 4)
SELECT conv_id, n_points, s_sum, q_sum, r_scaled, {rs_sql()} AS rs
FROM ag"""


def acf_profile_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return acf_profile(_signals(spark, sf))


QUERIES["acf_profile_text_len"] = acf_profile_text_len

# Per-lag Pearson over exact int64 sufficient statistics (the house
# _corr_sql expression, one block per lag), and the integer Haar cascade
# (kernel [1,-1], no normalization, trailing odd elements dropped per
# level).
acf_blocks = []

for _L in (1, 2, 3, 4):
    acf_blocks.append(
        f"""SELECT conv_id, CAST({_L} AS BIGINT) AS lag, n AS n_pairs,
       {_corr_sql} AS autocorr
FROM (SELECT conv_id, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x*y) AS BIGINT) AS sxy,
        CAST(sum(x*x) AS BIGINT) AS sxx,
        CAST(sum(y*y) AS BIGINT) AS syy
      FROM (SELECT conv_id,
              lag(CAST(text_len AS BIGINT), {_L}) OVER
                (PARTITION BY conv_id ORDER BY turn_idx) AS x,
              CAST(text_len AS BIGINT) AS y FROM sig)
      WHERE x IS NOT NULL GROUP BY conv_id HAVING count(*) >= 3)"""
    )
del _L

ORACLE["acf_profile_text_len"] = (
    SIG_SQL + "\n" + "\nUNION ALL\n".join(acf_blocks)
)


def haar_energy_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return haar_energy(_signals(spark, sf))


QUERIES["haar_energy_text_len"] = haar_energy_text_len

haar_ctes = [
    """c0 AS (SELECT conv_id,
         CAST(row_number() OVER (PARTITION BY conv_id
           ORDER BY turn_idx) - 1 AS BIGINT) AS k,
         CAST(text_len AS BIGINT) AS v FROM sig)"""
]

for _lvl in (1, 2, 3):
    haar_ctes.append(
        f"""p{_lvl} AS (SELECT conv_id, k // 2 AS g,
         sum(CASE WHEN k % 2 = 0 THEN v END) AS ev,
         sum(CASE WHEN k % 2 = 1 THEN v END) AS od
       FROM c{_lvl - 1} GROUP BY conv_id, k // 2
       HAVING count(*) = 2)"""
    )
    haar_ctes.append(
        f"""l{_lvl} AS (SELECT conv_id, CAST({_lvl} AS BIGINT) AS level,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum((ev - od) * (ev - od)) AS BIGINT) AS energy
       FROM p{_lvl} GROUP BY conv_id)"""
    )
    haar_ctes.append(
        f"c{_lvl} AS (SELECT conv_id, g AS k, ev + od AS v FROM p{_lvl})"
    )
del _lvl

ORACLE["haar_energy_text_len"] = (
    SIG_SQL
    + ",\n"
    + ",\n".join(haar_ctes)
    + "\nSELECT * FROM l1 UNION ALL SELECT * FROM l2"
    + " UNION ALL SELECT * FROM l3"
)


def variance_ratio_q2(spark: SparkSession, sf: str) -> DataFrame:
    return variance_ratio(_signals(spark, sf), q=2)


QUERIES["variance_ratio_q2"] = variance_ratio_q2
# Lo-MacKinlay variance ratio at horizon q=2 and the Kendall
# turning-points test; exact int64 diff statistics, ONE shared float
# expression each (vr_sql / tp_z_sql).
ORACLE["variance_ratio_q2"] = f"""{SIG_SQL},
dd AS (SELECT conv_id,
         CAST(text_len AS BIGINT)
           - lag(CAST(text_len AS BIGINT), 1) OVER w AS d1,
         CAST(text_len AS BIGINT)
           - lag(CAST(text_len AS BIGINT), 2) OVER w AS dq
       FROM sig
       WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
ag AS (SELECT conv_id,
         CAST(count(d1) AS BIGINT) AS m1,
         CAST(sum(d1) AS BIGINT) AS s1,
         CAST(sum(d1 * d1) AS BIGINT) AS s1sq,
         CAST(count(dq) AS BIGINT) AS mq,
         CAST(sum(dq) AS BIGINT) AS sq,
         CAST(sum(dq * dq) AS BIGINT) AS sqsq
       FROM dd GROUP BY conv_id HAVING count(dq) >= 2)
SELECT conv_id, m1, s1, s1sq, mq, sq, sqsq, {vr_sql(2)} AS vr
FROM ag"""


def turning_points_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return turning_points(_signals(spark, sf))


QUERIES["turning_points_text_len"] = turning_points_text_len
ORACLE["turning_points_text_len"] = f"""{SIG_SQL},
mk AS (SELECT conv_id,
         (CAST(text_len AS BIGINT)
            - lag(CAST(text_len AS BIGINT), 1) OVER w)
         * (lead(CAST(text_len AS BIGINT), 1) OVER w
            - CAST(text_len AS BIGINT)) < 0 AS is_tp
       FROM sig
       WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
ag AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(CASE WHEN is_tp THEN 1 ELSE 0 END) AS BIGINT)
           AS n_tp
       FROM mk GROUP BY conv_id HAVING count(*) >= 3)
SELECT conv_id, n_turns, n_tp, {tp_z_sql()} AS z FROM ag"""


def seasonal_outliers_1h(spark: SparkSession, sf: str) -> DataFrame:
    return seasonal_residual_outliers(_signals(spark, sf))


QUERIES["seasonal_outliers_1h"] = seasonal_outliers_1h
ORACLE["seasonal_outliers_1h"] = f"""{SIG_SQL},
hourly AS (SELECT date_trunc('hour', ts) AS hour_ts,
             CAST(count(*) AS BIGINT) AS n_points
           FROM sig GROUP BY 1),
h2 AS (SELECT hour_ts, n_points,
         CAST(hour(hour_ts) AS BIGINT) AS hod FROM hourly),
rkd AS (SELECT hod, n_points, hour_ts,
          row_number() OVER (PARTITION BY hod
            ORDER BY n_points, hour_ts) AS rk,
          CAST(count(*) OVER (PARTITION BY hod) AS BIGINT) AS n_hours
        FROM h2),
prof AS (SELECT hod, n_points AS med_hod FROM rkd
         WHERE rk = (n_hours + 1) // 2),
res AS (SELECT h2.hour_ts, h2.n_points, h2.hod, prof.med_hod,
          h2.n_points - prof.med_hod AS residual
        FROM h2 JOIN prof ON h2.hod = prof.hod),
fen AS (SELECT *,
          row_number() OVER (ORDER BY residual, hour_ts) AS grk,
          CAST(count(*) OVER () AS BIGINT) AS gn
        FROM res),
qq AS (SELECT *,
         max(CASE WHEN grk = (gn + 3) // 4 THEN residual END)
           OVER () AS q1,
         max(CASE WHEN grk = (3 * gn + 3) // 4 THEN residual END)
           OVER () AS q3
       FROM fen)
SELECT hour_ts, n_points, hod, med_hod, residual,
       (2 * residual < 2 * q1 - 3 * (q3 - q1)
        OR 2 * residual > 2 * q3 + 3 * (q3 - q1)) AS is_outlier
FROM qq"""


def irate_1h(spark: SparkSession, sf: str) -> DataFrame:
    return hourly_irate(transcripts_from_events(spark, sf))


QUERIES["irate_1h"] = irate_1h
ORACLE["irate_1h"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
base AS (SELECT date_trunc('hour', ts) AS hour_ts, ts, conv_id,
           turn_idx FROM t),
rkd AS (SELECT hour_ts, ts,
          row_number() OVER (PARTITION BY hour_ts
            ORDER BY ts DESC, conv_id DESC, turn_idx DESC) AS rn,
          CAST(count(*) OVER (PARTITION BY hour_ts) AS BIGINT)
            AS n_points
        FROM base),
ag AS (SELECT hour_ts, CAST(max(n_points) AS BIGINT) AS n_points,
         max(CASE WHEN rn = 1 THEN ts END) AS last_ts,
         CAST(max(CASE WHEN rn = 1 THEN epoch_us(ts) END)
           - max(CASE WHEN rn = 2 THEN epoch_us(ts) END) AS BIGINT)
           AS last_gap_us
       FROM rkd WHERE rn <= 2 GROUP BY hour_ts
       HAVING max(n_points) >= 2)
SELECT hour_ts, n_points, last_ts, last_gap_us,
       {irate_sql()} AS irate_eps
FROM ag"""


def underwater_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return underwater_streaks(_signals(spark, sf))


QUERIES["underwater_text_len"] = underwater_text_len
ORACLE["underwater_text_len"] = f"""{SIG_SQL},
mk AS (SELECT conv_id, turn_idx,
         CAST(text_len AS BIGINT) <
           max(CAST(text_len AS BIGINT)) OVER (PARTITION BY conv_id
             ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS under
       FROM sig),
fl AS (SELECT conv_id, turn_idx, under,
         (under AND NOT COALESCE(lag(under) OVER (PARTITION BY conv_id
            ORDER BY turn_idx), FALSE)) AS is_start
       FROM mk),
isl AS (SELECT conv_id, under,
          sum(CASE WHEN is_start THEN 1 ELSE 0 END)
            OVER (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS island
        FROM fl),
pi AS (SELECT conv_id, island, CAST(count(*) AS BIGINT) AS len
       FROM isl WHERE under GROUP BY conv_id, island),
tot AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns
        FROM sig GROUP BY conv_id HAVING count(*) >= 2),
ag AS (SELECT conv_id, CAST(sum(len) AS BIGINT) AS n_underwater,
         CAST(count(*) AS BIGINT) AS n_drawdowns,
         CAST(max(len) AS BIGINT) AS max_drawdown_len
       FROM pi GROUP BY conv_id)
SELECT tot.conv_id, n_turns,
       CAST(COALESCE(n_underwater, 0) AS BIGINT) AS n_underwater,
       CAST(COALESCE(n_drawdowns, 0) AS BIGINT) AS n_drawdowns,
       CAST(COALESCE(max_drawdown_len, 0) AS BIGINT)
         AS max_drawdown_len
FROM tot LEFT JOIN ag ON tot.conv_id = ag.conv_id"""


def residual_autocorr_1h(spark: SparkSession, sf: str) -> DataFrame:
    return residual_autocorr_hourly(_signals(spark, sf))


QUERIES["residual_autocorr_1h"] = residual_autocorr_1h

# Underwater streaks (seqshape.underwater_streaks, three-valued-logic
# identical in both engines for the first-turn NULL) and the residual
# lag-1 autocorrelation on the seasonal_outliers construction
# (anomaly.residual_autocorr_hourly).
_corr_agg_global = (
    "SELECT CAST(count(*) AS BIGINT) AS n,"
    " CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,"
    " CAST(sum(x*y) AS BIGINT) AS sxy,"
    " CAST(sum(x*x) AS BIGINT) AS sxx,"
    " CAST(sum(y*y) AS BIGINT) AS syy FROM p"
)

ORACLE["residual_autocorr_1h"] = f"""{SIG_SQL},
hourly AS (SELECT date_trunc('hour', ts) AS hour_ts,
             CAST(count(*) AS BIGINT) AS n_points
           FROM sig GROUP BY 1),
h2 AS (SELECT hour_ts, n_points,
         CAST(hour(hour_ts) AS BIGINT) AS hod FROM hourly),
rkd AS (SELECT hod, n_points, hour_ts,
          row_number() OVER (PARTITION BY hod
            ORDER BY n_points, hour_ts) AS rk,
          CAST(count(*) OVER (PARTITION BY hod) AS BIGINT) AS n_hours
        FROM h2),
prof AS (SELECT hod, n_points AS med_hod FROM rkd
         WHERE rk = (n_hours + 1) // 2),
res AS (SELECT h2.hour_ts, h2.n_points - prof.med_hod AS r
        FROM h2 JOIN prof ON h2.hod = prof.hod),
pr AS (SELECT lag(r) OVER (ORDER BY hour_ts) AS x, r AS y FROM res),
p AS (SELECT x, y FROM pr WHERE x IS NOT NULL),
a AS ({_corr_agg_global})
SELECT n AS n_pairs, sx, sy, sxy, sxx, syy, {_corr_sql} AS autocorr
FROM a"""


def seasonal_backtest_weekly(spark: SparkSession, sf: str) -> DataFrame:
    return seasonal_backtest_daily(_signals(spark, sf), season_hours=168)


QUERIES["seasonal_backtest_weekly"] = seasonal_backtest_weekly
ORACLE["seasonal_backtest_weekly"] = f"""{SIG_SQL},
hourly AS (SELECT date_trunc('hour', ts) AS hour_ts,
             CAST(count(*) AS BIGINT) AS n
           FROM sig GROUP BY 1),
j AS (SELECT h.hour_ts, h.n, s24.n AS n_s24, s1.n AS n_s1
      FROM hourly h
      LEFT JOIN hourly s24
        ON h.hour_ts = s24.hour_ts + INTERVAL 168 HOURS
      LEFT JOIN hourly s1
        ON h.hour_ts = s1.hour_ts + INTERVAL 1 HOUR),
ag AS (SELECT date_trunc('day', hour_ts) AS day,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(abs(n - n_s24)) AS BIGINT) AS sae_seasonal,
         CAST(count(n_s24) AS BIGINT) AS cnt_seasonal,
         CAST(sum(abs(n - n_s1)) AS BIGINT) AS sae_naive,
         CAST(count(n_s1) AS BIGINT) AS cnt_naive
       FROM j GROUP BY day)
SELECT day AS day_ts, n_hours, sae_seasonal, cnt_seasonal, sae_naive,
       cnt_naive, {mase_like_sql()} AS mase_like
FROM ag WHERE cnt_seasonal > 0 AND cnt_naive > 0"""


def peak_hour_dow(spark: SparkSession, sf: str) -> DataFrame:
    return peak_hour_by_dow(_signals(spark, sf))


QUERIES["peak_hour_dow"] = peak_hour_dow
ORACLE["peak_hour_dow"] = f"""{SIG_SQL},
cell AS (SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
           CAST(hour(ts) AS INTEGER) AS hod,
           CAST(count(*) AS BIGINT) AS n_turns
         FROM sig GROUP BY 1, 2),
rk AS (SELECT dow, hod, n_turns,
         row_number() OVER (PARTITION BY dow
           ORDER BY n_turns DESC, hod ASC) AS rn,
         CAST(sum(n_turns) OVER (PARTITION BY dow) AS BIGINT)
           AS day_turns
       FROM cell)
SELECT dow, hod AS peak_hod, n_turns AS peak_turns, day_turns,
       round(CAST(n_turns AS DOUBLE) / CAST(day_turns AS DOUBLE), 6)
         AS peak_share
FROM rk WHERE rn = 1"""


def latency_spread_1d(spark: SparkSession, sf: str) -> DataFrame:
    return latency_spread_daily(_signals(spark, sf))


QUERIES["latency_spread_1d"] = latency_spread_1d
ORACLE["latency_spread_1d"] = f"""{SIG_SQL},
ag AS (SELECT date_trunc('day', ts) AS day_ts,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(min(inter_time_us) AS BIGINT) AS min_us,
         CAST(max(inter_time_us) AS BIGINT) AS max_us,
         CAST(sum(inter_time_us) AS BIGINT) AS sum_us
       FROM sig GROUP BY day_ts)
SELECT day_ts, n_turns, min_us, max_us,
       CAST(max_us - min_us AS BIGINT) AS range_us,
       CAST(sum_us // n_turns AS BIGINT) AS mean_us,
       CASE WHEN sum_us > 0 THEN round(CAST(max_us - min_us AS DOUBLE)
         * CAST(n_turns AS DOUBLE) / CAST(sum_us AS DOUBLE), 6) END
         AS spread_ratio
FROM ag"""


def latency_by_len(spark: SparkSession, sf: str) -> DataFrame:
    return latency_by_len_bucket(_signals(spark, sf))


QUERIES["latency_by_len"] = latency_by_len
ORACLE["latency_by_len"] = f"""{SIG_SQL},
bk AS (SELECT CAST(least(text_len, 64) AS BIGINT) AS text_len,
         inter_time_us
       FROM sig),
ag AS (SELECT text_len, CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(inter_time_us) AS BIGINT) AS sum_latency_us
       FROM bk GROUP BY text_len)
SELECT text_len, n_turns, sum_latency_us,
       CAST(sum_latency_us // n_turns AS BIGINT) AS mean_latency_us
FROM ag"""


def oracle() -> dict[str, str]:
    return ORACLE
