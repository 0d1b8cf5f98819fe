"""Exact statistics over the signal frame: correlation, robust and
rank-based estimators, nonparametric tests, distribution shape and
sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aroma_spark.operators.distribution import (
    benford_first_digit,
    doc_len_quartiles_by_lang,
    gini_turns,
    gmd_by_bucket,
    gmd_sql,
    median_latency_by_role,
    median_text_len_by_role,
    turn_share_deciles,
)
from aroma_spark.operators.nonparam import (
    auc_sql,
    ks_d_sql,
    ks_day_drift,
    log_odds_sql,
    mann_whitney_daily,
    phi_association_daily,
    phi_sql,
    runs_test,
    runs_z_sql,
    slope_sql,
    theil_sen,
    tool_rate_ztest_daily,
    two_prop_z_sql,
)
from aroma_spark.operators.ordinal import (
    kendall_tau,
    perm_entropy,
    perm_entropy_sql,
    tau_b_sql,
)
from aroma_spark.operators.robust import (
    cusum_changepoint,
    latency_by_depth,
    latency_percentiles_by_bucket,
    mad_outliers_by_bucket,
    mode_daily,
    skew_kurt_by_bucket,
    skew_kurt_sql,
    trimmed_mean_daily,
    tukey_fences_by_bucket,
    weighted_median_daily,
)
from aroma_spark.operators.sketches import (
    cm_estimate,
    cm_merge,
    cm_sketch,
    hll_estimate,
    hll_merge,
    hll_overlap,
    hll_sketch,
)
from aroma_spark.operators.sketches import HLL_CONST as _HLL_C
from aroma_spark.operators.stats import (
    categorical_entropy,
    conv_p95_profile,
    dod_growth,
    exact_median_by_bucket,
    linear_trend,
    role_reciprocity,
    signal_autocorr,
    signal_corr,
    signal_xcorr,
    text_len_cdf,
)
from aroma_spark.operators.tiers import rollup_lattice
from aroma_spark.registry import Query
from aroma_spark.registry.lattice import SIG_SQL, _signals
from aroma_spark.sources.transcripts import (
    TRANSCRIPTS_SQL,
    load_table,
    transcripts_from_events,
)

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}


# --- cross-signal Pearson r per conversation (text_len vs latency
# in whole seconds), exact int64 sufficient statistics
def corr_len_latency(spark: SparkSession, sf: str) -> DataFrame:
    return signal_corr(_signals(spark, sf))


QUERIES["corr_len_latency"] = corr_len_latency

# Pearson r / lag-1 autocorrelation from exact int64 sufficient
# statistics; the double combination mirrors stats._corr_expr
_corr_sql = (
    "CASE WHEN (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) > 0"
    " AND (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) > 0"
    " THEN round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))"
    " / (sqrt(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))"
    " * sqrt(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6) END"
)

_corr_agg = (
    "SELECT conv_id, CAST(count(*) AS BIGINT) AS n,"
    " CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,"
    " CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,"
    " CAST(sum(y*y) AS BIGINT) AS syy"
    " FROM p GROUP BY conv_id HAVING count(*) >= 3"
)

ORACLE["corr_len_latency"] = f"""{SIG_SQL},
p AS (SELECT conv_id, CAST(text_len AS BIGINT) AS x,
             inter_time_us // 1000000 AS y FROM sig),
a AS ({_corr_agg})
SELECT conv_id, n AS n_pairs, {_corr_sql} AS corr FROM a"""


# --- per-(conv, day) OLS latency drift over the 1h tier: x =
# hour-of-day grid index, y = the bucket's int64 latency sum; the
# five sufficient statistics are exact int64, slope/intercept one
# fixed double expression (stats.linear_trend docstring)
def trend_1d(spark: SparkSession, sf: str) -> DataFrame:
    tier = rollup_lattice(_signals(spark, sf), materialize=False)["1h"]
    x = tier.select(
        "conv_id",
        F.to_date("bucket_ts").alias("day"),
        F.hour("bucket_ts").cast("long").alias("hod"),
        "sum_latency_us",
    )
    return linear_trend(x, "hod", "sum_latency_us", ["conv_id", "day"])


QUERIES["trend_1d"] = trend_1d

_trend_slope = (
    "CASE WHEN n >= 2 AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0"
    " THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END"
)

ORACLE["trend_1d"] = f"""{SIG_SQL},
tier AS (SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
                CAST(sum(inter_time_us) AS BIGINT) AS y
         FROM sig GROUP BY 1, 2),
x AS (SELECT conv_id, CAST(bucket_ts AS DATE) AS day,
             CAST(hour(bucket_ts) AS BIGINT) AS hx, y FROM tier),
a AS (SELECT conv_id, day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(hx) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(hx * y) AS BIGINT) AS sxy,
             CAST(sum(hx * hx) AS BIGINT) AS sxx
      FROM x GROUP BY 1, 2)
SELECT conv_id, day, n, sx, sy, sxy, sxx,
       {_trend_slope} AS slope,
       (CAST(sy AS DOUBLE) - ({_trend_slope}) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept
FROM a"""


# --- lag-1 autocorrelation of reply length per conversation
def autocorr_len_lag1(spark: SparkSession, sf: str) -> DataFrame:
    return signal_autocorr(_signals(spark, sf), "text_len", 1)


QUERIES["autocorr_len_lag1"] = autocorr_len_lag1
ORACLE["autocorr_len_lag1"] = f"""{SIG_SQL},
lagged AS (SELECT conv_id,
             lag(CAST(text_len AS BIGINT)) OVER
               (PARTITION BY conv_id ORDER BY turn_idx) AS x,
             CAST(text_len AS BIGINT) AS y
           FROM sig),
p AS (SELECT * FROM lagged WHERE x IS NOT NULL),
a AS ({_corr_agg})
SELECT conv_id, n AS n_pairs, {_corr_sql} AS autocorr FROM a"""


# --- count-min sketch (Cormode & Muthukrishnan 2005): hourly
# frequency sketch merged to day, per-conv estimate (min over
# salted md5 cells) joined against the exact count — the
# over-estimate-only guarantee is hash-checked cell-for-cell
def cm_est_1d(spark: SparkSession, sf: str) -> DataFrame:
    sig = _signals(spark, sf)
    sk_day = cm_merge(cm_sketch(sig, "hour"), "day")
    keys = sig.select(
        F.date_trunc("day", F.col("ts")).alias("bucket_ts"), "conv_id"
    ).distinct()
    est = cm_estimate(sk_day, keys)
    truth = sig.groupBy(
        F.date_trunc("day", F.col("ts")).alias("bucket_ts"), "conv_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    return est.join(truth, ["bucket_ts", "conv_id"]).select(
        "bucket_ts", "conv_id", "cm_est", "n_true"
    )


QUERIES["cm_est_1d"] = cm_est_1d

# count-min sketch: identical salted md5 cells, integer throughout
_cm_pos = (
    "CAST(CAST(('0x' || substr(md5('cm' || d.d || ':' || conv_id), 1, 8))"
    " AS BIGINT) % 256 AS INT)"
)

ORACLE["cm_est_1d"] = f"""{SIG_SQL},
depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
cells AS (
  SELECT date_trunc('hour', ts) AS h_ts, CAST(d.d AS INT) AS depth,
         {_cm_pos} AS pos
  FROM sig CROSS JOIN depths d
),
skh AS (SELECT h_ts, depth, pos, CAST(count(*) AS BIGINT) AS cnt
        FROM cells GROUP BY h_ts, depth, pos),
skd AS (SELECT date_trunc('day', h_ts) AS bucket_ts, depth, pos,
               CAST(sum(cnt) AS BIGINT) AS cnt
        FROM skh GROUP BY 1, depth, pos),
keys AS (SELECT DISTINCT date_trunc('day', ts) AS bucket_ts, conv_id
         FROM sig),
probes AS (
  SELECT k.bucket_ts, k.conv_id, CAST(d.d AS INT) AS depth,
         {_cm_pos} AS pos
  FROM keys k CROSS JOIN depths d
),
est AS (SELECT p.bucket_ts, p.conv_id,
               CAST(min(COALESCE(s.cnt, 0)) AS BIGINT) AS cm_est
        FROM probes p LEFT JOIN skd s
          ON s.bucket_ts = p.bucket_ts AND s.depth = p.depth
         AND s.pos = p.pos
        GROUP BY p.bucket_ts, p.conv_id),
tr AS (SELECT date_trunc('day', ts) AS bucket_ts, conv_id,
              CAST(count(*) AS BIGINT) AS n_true
       FROM sig GROUP BY 1, conv_id)
SELECT e.bucket_ts, e.conv_id, e.cm_est, t.n_true
FROM est e JOIN tr t
  ON t.bucket_ts = e.bucket_ts AND t.conv_id = e.conv_id"""


# --- HyperLogLog (Flajolet et al. 2007): hourly register table
# merged to day (register MAX = lossless HLL union), estimated via
# the exact-int64 harmonic sum, joined against the true per-day
# distinct count — estimate AND registers are hash-compared
def hll_distinct_1d(spark: SparkSession, sf: str) -> DataFrame:
    sig = _signals(spark, sf)
    est = hll_estimate(hll_merge(hll_sketch(sig, "hour"), "day"))
    truth = sig.groupBy(
        F.date_trunc("day", F.col("ts")).alias("bucket_ts")
    ).agg(F.countDistinct("conv_id").cast("long").alias("n_true"))
    return est.join(truth, ["bucket_ts"]).select(
        "bucket_ts", "n_registers", "hll_est", "n_true"
    )


QUERIES["hll_distinct_1d"] = hll_distinct_1d
# HyperLogLog: identical md5 registers (idx = top 8 bits, rho from
# the 24-bit tail's bit length), exact-int64 harmonic sum, one
# double division by the shared repr-exact constant; linear-counting
# branch below 2.5*m (ln's last-ulp absorbed by round 6 both sides)
ORACLE["hll_distinct_1d"] = f"""{SIG_SQL},
hv AS (SELECT date_trunc('day', ts) AS bucket_ts, conv_id,
              CAST(('0x' || substr(md5('hll:' || conv_id), 1, 8))
                   AS BIGINT) AS h
       FROM sig),
regs AS (
  SELECT bucket_ts, h // 16777216 AS idx,
         CAST(max(CASE WHEN h % 16777216 = 0 THEN 25
                  ELSE 25 - length(format('{{:b}}', h % 16777216)) END)
              AS INT) AS r
  FROM hv GROUP BY bucket_ts, idx
),
a AS (
  SELECT bucket_ts, CAST(count(*) AS BIGINT) AS present,
         CAST(sum(CAST(1 AS BIGINT) << (25 - r)) AS BIGINT) AS s_present
  FROM regs GROUP BY bucket_ts
),
e AS (
  SELECT bucket_ts, present,
         {_HLL_C!r} / CAST(s_present + (256 - present) * 33554432
                           AS DOUBLE) AS raw
  FROM a
),
tr AS (SELECT date_trunc('day', ts) AS bucket_ts,
              CAST(count(DISTINCT conv_id) AS BIGINT) AS n_true
       FROM sig GROUP BY 1)
SELECT e.bucket_ts, e.present AS n_registers,
       round(CASE WHEN e.raw <= 640.0 AND e.present < 256
             THEN 256.0 * ln(256.0 / CAST(256 - e.present AS DOUBLE))
             ELSE e.raw END, 6) AS hll_est,
       tr.n_true
FROM e JOIN tr ON tr.bucket_ts = e.bucket_ts"""


# --- Shannon entropy of the hourly role mix: int64 conditional-sum
# pivot over the fixed role enum, entropy as ONE fixed expression
# tree (the cross-engine-safe shape — a per-category float sum
# would be partition-order-dependent)
def role_entropy_1h(spark: SparkSession, sf: str) -> DataFrame:
    return categorical_entropy(
        transcripts_from_events(spark, sf),
        ("click", "error", "purchase", "signup", "view"),
        "hour",
    )


QUERIES["role_entropy_1h"] = role_entropy_1h

# role-mix entropy: int64 conditional-sum pivot, entropy as the
# identical left-associated expression tree stats.categorical_entropy
# builds (term order = category order, 'other' last)
_roles = ("click", "error", "purchase", "signup", "view")

_rcols = ", ".join(
    f"CAST(sum(CASE WHEN role = '{r}' THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS n_{r}"
    for r in _roles
)

_rterm = (
    "CASE WHEN {c} > 0 THEN CAST({c} AS DOUBLE) * ln(CAST({c} AS DOUBLE))"
    " ELSE 0.0 END"
)

_racc = _rterm.format(c="n_click")

for _r in ("n_error", "n_purchase", "n_signup", "n_view", "n_other"):
    _racc = f"({_racc} + {_rterm.format(c=_r)})"
del _r

ORACLE["role_entropy_1h"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
a AS (
  SELECT date_trunc('hour', ts) AS bucket_ts,
         CAST(count(*) AS BIGINT) AS n_points, {_rcols}
  FROM t GROUP BY 1
),
b AS (SELECT *, CAST(n_points - n_click - n_error - n_purchase - n_signup
                     - n_view AS BIGINT) AS n_other
      FROM a)
SELECT bucket_ts, n_points, n_click, n_error, n_purchase, n_signup, n_view,
       n_other,
       round(ln(CAST(n_points AS DOUBLE))
             - {_racc} / CAST(n_points AS DOUBLE), 6) AS entropy
FROM b"""


def xcorr_len_latency_lag1(spark: SparkSession, sf: str) -> DataFrame:
    return signal_xcorr(_signals(spark, sf), lag=1)


QUERIES["xcorr_len_latency_lag1"] = xcorr_len_latency_lag1
ORACLE["xcorr_len_latency_lag1"] = f"""{SIG_SQL},
lagged AS (SELECT conv_id,
             lag(CAST(text_len AS BIGINT)) OVER
               (PARTITION BY conv_id ORDER BY turn_idx) AS x,
             inter_time_us // 1000000 AS y
           FROM sig),
p AS (SELECT * FROM lagged WHERE x IS NOT NULL),
a AS ({_corr_agg})
SELECT conv_id, n AS n_pairs, {_corr_sql} AS xcorr FROM a"""


def median_latency_1d(spark: SparkSession, sf: str) -> DataFrame:
    return exact_median_by_bucket(
        _signals(spark, sf), value_col="inter_time_us", unit="day"
    )


QUERIES["median_latency_1d"] = median_latency_1d
ORACLE["median_latency_1d"] = f"""{SIG_SQL},
ranked AS (
  SELECT date_trunc('day', ts) AS bucket_ts,
         CAST(inter_time_us AS BIGINT) AS inter_time_us,
         row_number() OVER (PARTITION BY date_trunc('day', ts)
             ORDER BY inter_time_us, conv_id, turn_idx) AS rk,
         CAST(count(*) OVER (PARTITION BY date_trunc('day', ts))
              AS BIGINT) AS n_points
  FROM sig)
SELECT bucket_ts, n_points,
       inter_time_us AS median_inter_time_us
FROM ranked WHERE rk = (n_points + 1) // 2"""


def turn_share_deciles_q(spark: SparkSession, sf: str) -> DataFrame:
    return turn_share_deciles(transcripts_from_events(spark, sf))


QUERIES["turn_share_deciles"] = turn_share_deciles_q

_hist_blocks = """cnt AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS c
        FROM t GROUP BY conv_id),
hist AS (SELECT c, CAST(count(*) AS BIGINT) AS k FROM cnt GROUP BY c)"""

ORACLE["turn_share_deciles"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
{_hist_blocks},
blk AS (SELECT c, k,
          CAST(COALESCE(sum(k) OVER (ORDER BY c DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
            AS BIGINT) AS s,
          CAST(sum(k) OVER () AS BIGINT) AS n_convs,
          CAST(sum(c * k) OVER () AS BIGINT) AS total_turns
        FROM hist),
sp AS (SELECT c, k, s, s + k - 1 AS e, n_convs, total_turns,
         CAST(unnest(generate_series((s - 1) * 10 // n_convs,
                                     (s + k - 2) * 10 // n_convs))
           AS INT) AS decile
       FROM blk),
ov AS (SELECT decile,
         least(e, ((CAST(decile AS BIGINT) + 1) * n_convs - 1) // 10 + 1)
           - greatest(s, (CAST(decile AS BIGINT) * n_convs + 9) // 10 + 1)
           + 1 AS n_in,
         c, total_turns
       FROM sp)
SELECT decile, CAST(sum(n_in) AS BIGINT) AS n_convs,
       CAST(sum(n_in * c) AS BIGINT) AS sum_turns,
       CAST(sum(n_in * c) AS DOUBLE) / CAST(max(total_turns) AS DOUBLE)
         AS turn_share
FROM ov WHERE n_in > 0 GROUP BY decile"""


def gini_turns_q(spark: SparkSession, sf: str) -> DataFrame:
    return gini_turns(transcripts_from_events(spark, sf))


QUERIES["gini_turns"] = gini_turns_q
ORACLE["gini_turns"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
{_hist_blocks},
blk AS (SELECT c, k,
          CAST(COALESCE(sum(k) OVER (ORDER BY c ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
            AS BIGINT) AS s,
          CAST(sum(k) OVER () AS BIGINT) AS n_convs,
          CAST(sum(c * k) OVER () AS BIGINT) AS total_turns
        FROM hist),
a AS (SELECT n_convs, total_turns,
        CAST(sum(c * (k * s + (k * (k - 1)) // 2)) AS BIGINT) AS s2
      FROM blk GROUP BY n_convs, total_turns)
SELECT n_convs, total_turns,
       CAST(2 * s2 - (n_convs + 1) * total_turns AS DOUBLE)
         / CAST(n_convs * total_turns AS DOUBLE) AS gini
FROM a"""


def benford_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return benford_first_digit(_signals(spark, sf), value_col="text_len")


QUERIES["benford_text_len"] = benford_text_len
ORACLE["benford_text_len"] = f"""{SIG_SQL},
d AS (SELECT CAST(substr(CAST(text_len AS VARCHAR), 1, 1) AS INT)
        AS digit
      FROM sig WHERE text_len > 0),
a AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_values
      FROM d GROUP BY digit)
SELECT digit, n_values,
       CAST(n_values AS DOUBLE) / CAST(sum(n_values) OVER () AS DOUBLE)
         AS share
FROM a"""


def mad_outliers_daily(spark: SparkSession, sf: str) -> DataFrame:
    return mad_outliers_by_bucket(_signals(spark, sf))


QUERIES["mad_outliers_daily"] = mad_outliers_daily
# Exact lower-medians by rank selection (a real row, never
# interpolated), integer CUSUM via n-scaled prefix sums, winsorized
# moments from int64 power sums with the g1/g2 combination shared
# VERBATIM between engines via skew_kurt_sql().
ORACLE["mad_outliers_daily"] = f"""{SIG_SQL},
base AS (SELECT date_trunc('day', ts) AS bucket_ts,
           CAST(text_len AS BIGINT) AS v, conv_id, turn_idx FROM sig),
medr AS (SELECT bucket_ts, v,
           row_number() OVER (PARTITION BY bucket_ts
             ORDER BY v, conv_id, turn_idx) AS rk,
           CAST(count(*) OVER (PARTITION BY bucket_ts) AS BIGINT) AS np
         FROM base),
med AS (SELECT bucket_ts, v AS med FROM medr WHERE rk = (np + 1) // 2),
dev AS (SELECT b.bucket_ts, b.conv_id, b.turn_idx, m.med,
          abs(b.v - m.med) AS d
        FROM base b JOIN med m ON b.bucket_ts = m.bucket_ts),
madr AS (SELECT bucket_ts, d,
           row_number() OVER (PARTITION BY bucket_ts
             ORDER BY d, conv_id, turn_idx) AS rk,
           CAST(count(*) OVER (PARTITION BY bucket_ts) AS BIGINT) AS np
         FROM dev),
madt AS (SELECT bucket_ts, d AS mad FROM madr WHERE rk = (np + 1) // 2)
SELECT v.bucket_ts, CAST(count(*) AS BIGINT) AS n_points,
       CAST(min(v.med) AS BIGINT) AS median_text_len,
       CAST(min(m.mad) AS BIGINT) AS mad,
       CAST(sum(CASE WHEN v.d > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(max(v.d) AS BIGINT) AS max_abs_dev
FROM dev v JOIN madt m ON v.bucket_ts = m.bucket_ts
GROUP BY v.bucket_ts"""


def cusum_changepoint_q(spark: SparkSession, sf: str) -> DataFrame:
    return cusum_changepoint(_signals(spark, sf))


QUERIES["cusum_changepoint"] = cusum_changepoint_q
ORACLE["cusum_changepoint"] = f"""{SIG_SQL},
vr AS (SELECT conv_id, turn_idx, CAST(text_len AS BIGINT) AS v FROM sig),
c AS (SELECT conv_id, turn_idx,
        CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n_turns,
        CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT)
          * CAST(sum(v) OVER (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT)
          - CAST(row_number() OVER (PARTITION BY conv_id
              ORDER BY turn_idx) AS BIGINT)
          * CAST(sum(v) OVER (PARTITION BY conv_id) AS BIGINT)
          AS c_scaled
      FROM vr),
p AS (SELECT conv_id, n_turns, turn_idx,
        CAST(abs(c_scaled) AS BIGINT) AS abs_c,
        row_number() OVER (PARTITION BY conv_id
          ORDER BY abs(c_scaled) DESC, turn_idx ASC) AS pk
      FROM c WHERE n_turns >= 4)
SELECT conv_id, n_turns, turn_idx AS split_turn_idx,
       abs_c AS max_cusum_scaled,
       round(CAST(abs_c AS DOUBLE) / CAST(n_turns AS DOUBLE), 6)
         AS max_cusum
FROM p WHERE pk = 1"""


def skew_kurt_daily(spark: SparkSession, sf: str) -> DataFrame:
    return skew_kurt_by_bucket(_signals(spark, sf))


QUERIES["skew_kurt_daily"] = skew_kurt_daily

_skew, _kurt = skew_kurt_sql()

ORACLE["skew_kurt_daily"] = f"""{SIG_SQL},
b AS (SELECT date_trunc('day', ts) AS bucket_ts,
        least(CAST(text_len AS BIGINT), 1024) AS v FROM sig),
agg AS (SELECT bucket_ts, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(v) AS BIGINT) AS s1,
          CAST(sum(v * v) AS BIGINT) AS s2,
          CAST(sum(v * v * v) AS BIGINT) AS s3,
          CAST(sum(v * v * v * v) AS BIGINT) AS s4
        FROM b GROUP BY bucket_ts HAVING count(*) >= 4)
SELECT bucket_ts, n AS n_points, s1, s2, s3, s4,
       {_skew} AS skewness, {_kurt} AS kurtosis
FROM agg"""


def kendall_len_latency(spark: SparkSession, sf: str) -> DataFrame:
    return kendall_tau(_signals(spark, sf))


QUERIES["kendall_len_latency"] = kendall_len_latency
# Exact int64 pair/pattern counts, ONE shared float expression per
# statistic (tau_b_sql / perm_entropy_sql), and nearest-rank quartiles
# with integral 1.5*IQR fences.
ORACLE["kendall_len_latency"] = f"""{SIG_SQL},
vr AS (SELECT conv_id, turn_idx, CAST(text_len AS BIGINT) AS x,
         CAST(inter_time_us AS BIGINT) AS y FROM sig),
nn AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns FROM vr
       GROUP BY conv_id HAVING count(*) >= 4),
pr AS (SELECT a.conv_id, sign(b.x - a.x) AS dx, sign(b.y - a.y) AS dy
       FROM vr a JOIN vr b ON a.conv_id = b.conv_id
         AND a.turn_idx < b.turn_idx),
ag AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS concordant,
         CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS discordant,
         CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS ties_x,
         CAST(sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS ties_y,
         CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS ties_xy
       FROM pr GROUP BY conv_id)
SELECT ag.conv_id, nn.n_turns, n_pairs, concordant, discordant,
       ties_x, ties_y, ties_xy, {tau_b_sql()} AS tau_b
FROM ag JOIN nn ON ag.conv_id = nn.conv_id"""


def perm_entropy_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return perm_entropy(_signals(spark, sf))


QUERIES["perm_entropy_text_len"] = perm_entropy_text_len

_h, _hn = perm_entropy_sql()

ORACLE["perm_entropy_text_len"] = f"""{SIG_SQL},
vr AS (SELECT conv_id, CAST(text_len AS BIGINT) AS x0,
         CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n_turns,
         lead(CAST(text_len AS BIGINT), 1) OVER (PARTITION BY conv_id
           ORDER BY turn_idx) AS x1,
         lead(CAST(text_len AS BIGINT), 2) OVER (PARTITION BY conv_id
           ORDER BY turn_idx) AS x2
       FROM sig),
tp AS (SELECT conv_id,
         (CASE WHEN x0 <= x1 THEN 4 ELSE 0 END
          + CASE WHEN x0 <= x2 THEN 2 ELSE 0 END
          + CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS pid
       FROM vr WHERE x2 IS NOT NULL AND n_turns >= 4),
ag AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_triples,
         CAST(sum(CASE WHEN pid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN pid = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN pid = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(sum(CASE WHEN pid = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         CAST(sum(CASE WHEN pid = 6 THEN 1 ELSE 0 END) AS BIGINT) AS c6,
         CAST(sum(CASE WHEN pid = 7 THEN 1 ELSE 0 END) AS BIGINT) AS c7
       FROM tp GROUP BY conv_id)
SELECT conv_id, n_triples, c0, c1, c3, c4, c6, c7,
       {_h} AS entropy, {_hn} AS norm_entropy
FROM ag"""


def tukey_fences_daily(spark: SparkSession, sf: str) -> DataFrame:
    return tukey_fences_by_bucket(_signals(spark, sf))


QUERIES["tukey_fences_daily"] = tukey_fences_daily
ORACLE["tukey_fences_daily"] = f"""{SIG_SQL},
base AS (SELECT date_trunc('day', ts) AS bucket_ts,
           CAST(text_len AS BIGINT) AS v, conv_id, turn_idx FROM sig),
rkd AS (SELECT bucket_ts, v,
          row_number() OVER (PARTITION BY bucket_ts
            ORDER BY v, conv_id, turn_idx) AS rk,
          CAST(count(*) OVER (PARTITION BY bucket_ts) AS BIGINT) AS n
        FROM base),
q AS (SELECT bucket_ts, CAST(max(n) AS BIGINT) AS n_points,
        CAST(min(v) AS BIGINT) AS min_text_len,
        CAST(max(CASE WHEN rk = (n + 3) // 4 THEN v END) AS BIGINT)
          AS q1,
        CAST(max(CASE WHEN rk = (n + 1) // 2 THEN v END) AS BIGINT)
          AS median_text_len,
        CAST(max(CASE WHEN rk = (3 * n + 3) // 4 THEN v END) AS BIGINT)
          AS q3,
        CAST(max(v) AS BIGINT) AS max_text_len
      FROM rkd GROUP BY bucket_ts),
qq AS (SELECT *, CAST(q3 - q1 AS BIGINT) AS iqr FROM q),
ct AS (SELECT b.bucket_ts,
         CAST(sum(CASE WHEN 2 * b.v < 2 * qq.q1 - 3 * qq.iqr
           THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
         CAST(sum(CASE WHEN 2 * b.v > 2 * qq.q3 + 3 * qq.iqr
           THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
       FROM base b JOIN qq ON b.bucket_ts = qq.bucket_ts
       GROUP BY b.bucket_ts)
SELECT qq.bucket_ts, n_points, min_text_len, q1, median_text_len, q3,
       max_text_len, iqr, n_low_outliers, n_high_outliers
FROM qq JOIN ct ON qq.bucket_ts = ct.bucket_ts"""


def latency_pct_daily(spark: SparkSession, sf: str) -> DataFrame:
    return latency_percentiles_by_bucket(_signals(spark, sf))


QUERIES["latency_pct_daily"] = latency_pct_daily
ORACLE["latency_pct_daily"] = f"""{SIG_SQL},
base AS (SELECT date_trunc('day', ts) AS bucket_ts,
           CAST(inter_time_us AS BIGINT) AS v, conv_id, turn_idx
         FROM sig),
rkd AS (SELECT bucket_ts, v,
          row_number() OVER (PARTITION BY bucket_ts
            ORDER BY v, conv_id, turn_idx) AS rk,
          CAST(count(*) OVER (PARTITION BY bucket_ts) AS BIGINT) AS n
        FROM base)
SELECT bucket_ts, CAST(max(n) AS BIGINT) AS n_points,
       CAST(max(CASE WHEN rk = (1 * n + 1) // 2 THEN v END) AS BIGINT)
         AS p50,
       CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN v END) AS BIGINT)
         AS p90,
       CAST(max(CASE WHEN rk = (19 * n + 19) // 20 THEN v END)
         AS BIGINT) AS p95,
       CAST(max(CASE WHEN rk = (99 * n + 99) // 100 THEN v END)
         AS BIGINT) AS p99,
       CAST(max(v) AS BIGINT) AS max_inter_time_us
FROM rkd GROUP BY bucket_ts"""


def ks_drift_daily(spark: SparkSession, sf: str) -> DataFrame:
    return ks_day_drift(_signals(spark, sf))


QUERIES["ks_drift_daily"] = ks_drift_daily
# Exact int64 KS numerator / Mann-Whitney 2U / Theil-Sen (dy, dx) pair;
# ONE shared float expression per statistic (ks_d_sql / auc_sql /
# slope_sql).
ORACLE["ks_drift_daily"] = f"""{SIG_SQL},
base AS (SELECT date_trunc('day', ts) AS day,
           CAST(text_len AS BIGINT) AS v FROM sig),
u AS (SELECT day AS pair_day, v, 1 AS c_cur, 0 AS c_prev FROM base
      UNION ALL
      SELECT day + INTERVAL 1 DAY AS pair_day, v, 0 AS c_cur,
             1 AS c_prev FROM base),
g AS (SELECT pair_day, v, CAST(sum(c_cur) AS BIGINT) AS c_cur,
        CAST(sum(c_prev) AS BIGINT) AS c_prev
      FROM u GROUP BY pair_day, v),
st AS (SELECT pair_day,
         sum(c_cur) OVER (PARTITION BY pair_day ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cur,
         sum(c_prev) OVER (PARTITION BY pair_day ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_prev,
         sum(c_cur) OVER (PARTITION BY pair_day) AS n_cur,
         sum(c_prev) OVER (PARTITION BY pair_day) AS n_prev
       FROM g),
ag AS (SELECT pair_day, CAST(max(n_prev) AS BIGINT) AS n_prev,
         CAST(max(n_cur) AS BIGINT) AS n_cur,
         CAST(max(abs(cum_prev * n_cur - cum_cur * n_prev)) AS BIGINT)
           AS d_num
       FROM st GROUP BY pair_day
       HAVING max(n_prev) > 0 AND max(n_cur) > 0)
SELECT pair_day AS day_ts, n_prev, n_cur, d_num, {ks_d_sql()} AS ks_d
FROM ag"""


def mannwhitney_latency_daily(spark: SparkSession, sf: str) -> DataFrame:
    # roles in the driver tables are event types; click vs view are
    # the two most common, so every day has both samples
    return mann_whitney_daily(
        _signals(spark, sf), role_a="click", role_b="view"
    )


QUERIES["mannwhitney_latency_daily"] = mannwhitney_latency_daily
ORACLE["mannwhitney_latency_daily"] = f"""{SIG_SQL},
base AS (SELECT date_trunc('day', ts) AS day,
           CAST(inter_time_us AS BIGINT) AS v,
           CASE WHEN role = 'click' THEN 1 ELSE 0 END AS in_a,
           CASE WHEN role = 'view' THEN 1 ELSE 0 END AS in_b
         FROM sig WHERE role IN ('click', 'view')),
g AS (SELECT day, v, CAST(sum(in_a) AS BIGINT) AS c_a,
        CAST(sum(in_b) AS BIGINT) AS c_b
      FROM base GROUP BY day, v),
st AS (SELECT day, c_a, c_b,
         sum(c_b) OVER (PARTITION BY day ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c_b
           AS cum_b_excl
       FROM g),
ag AS (SELECT day, CAST(sum(c_a) AS BIGINT) AS n_a,
         CAST(sum(c_b) AS BIGINT) AS n_b,
         CAST(sum(c_a * cum_b_excl) AS BIGINT) AS wins_a,
         CAST(sum(c_a * c_b) AS BIGINT) AS ties_pairs
       FROM st GROUP BY day
       HAVING sum(c_a) > 0 AND sum(c_b) > 0)
SELECT day AS day_ts, n_a, n_b, wins_a, ties_pairs,
       CAST(2 * wins_a + ties_pairs AS BIGINT) AS u2_a,
       {auc_sql()} AS auc_a
FROM ag"""


def theilsen_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return theil_sen(_signals(spark, sf))


QUERIES["theilsen_text_len"] = theilsen_text_len
ORACLE["theilsen_text_len"] = f"""{SIG_SQL},
vr AS (SELECT conv_id, CAST(turn_idx AS BIGINT) AS x,
         CAST(text_len AS BIGINT) AS y FROM sig),
nn AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns FROM vr
       GROUP BY conv_id HAVING count(*) >= 4),
pr AS (SELECT a.conv_id, b.y - a.y AS dy, b.x - a.x AS dx
       FROM vr a JOIN vr b ON a.conv_id = b.conv_id AND a.x < b.x),
rkd AS (SELECT conv_id, dy, dx,
          row_number() OVER (PARTITION BY conv_id
            ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE), dy, dx)
            AS rk,
          CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n_pairs
        FROM pr),
med AS (SELECT conv_id, CAST(max(n_pairs) AS BIGINT) AS n_pairs,
          CAST(max(CASE WHEN rk = (n_pairs + 1) // 2 THEN dy END)
            AS BIGINT) AS slope_num,
          CAST(max(CASE WHEN rk = (n_pairs + 1) // 2 THEN dx END)
            AS BIGINT) AS slope_den
        FROM rkd GROUP BY conv_id)
SELECT med.conv_id, nn.n_turns, med.n_pairs, slope_num, slope_den,
       {slope_sql()} AS slope
FROM med JOIN nn ON med.conv_id = nn.conv_id"""


def runs_test_text_len(spark: SparkSession, sf: str) -> DataFrame:
    return runs_test(_signals(spark, sf))


QUERIES["runs_test_text_len"] = runs_test_text_len
# Wald-Wolfowitz runs test about the conversation median and per-day 2x2
# role-vs-tool association; exact int64 counts, ONE shared float
# expression per statistic (runs_z_sql / phi_sql / log_odds_sql).
ORACLE["runs_test_text_len"] = f"""{SIG_SQL},
vr AS (SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
         CAST(text_len AS BIGINT) AS v FROM sig),
rkd AS (SELECT conv_id, turn_idx, v,
          row_number() OVER (PARTITION BY conv_id
            ORDER BY v, turn_idx) AS rk,
          CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT)
            AS n_turns
        FROM vr),
fl AS (SELECT * FROM rkd WHERE n_turns >= 4),
med AS (SELECT conv_id, n_turns, v AS median_value FROM fl
        WHERE rk = (n_turns + 1) // 2),
sg AS (SELECT f.conv_id, m.n_turns, m.median_value, f.turn_idx,
         CASE WHEN f.v > m.median_value THEN 1 ELSE -1 END AS s
       FROM fl f JOIN med m ON f.conv_id = m.conv_id
       WHERE f.v <> m.median_value),
stp AS (SELECT conv_id, n_turns, median_value, s,
          CASE WHEN lag(s) OVER (PARTITION BY conv_id
                 ORDER BY turn_idx) IS NULL
                 OR lag(s) OVER (PARTITION BY conv_id
                   ORDER BY turn_idx) <> s
               THEN 1 ELSE 0 END AS is_run_start
        FROM sg),
ag AS (SELECT conv_id, n_turns, median_value,
         CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_plus,
         CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_minus,
         CAST(sum(is_run_start) AS BIGINT) AS n_runs
       FROM stp GROUP BY conv_id, n_turns, median_value)
SELECT conv_id, n_turns, median_value, n_plus, n_minus, n_runs,
       {runs_z_sql()} AS z
FROM ag"""


def phi_tool_role_daily(spark: SparkSession, sf: str) -> DataFrame:
    # roles in the driver tables are event types (see
    # mannwhitney_latency_daily)
    return phi_association_daily(
        _signals(spark, sf), role_a="click", role_b="view"
    )


QUERIES["phi_tool_role_daily"] = phi_tool_role_daily
ORACLE["phi_tool_role_daily"] = f"""{SIG_SQL},
base AS (SELECT date_trunc('day', ts) AS day, role,
           CAST(tool_call AS BIGINT) AS tc
         FROM sig WHERE role IN ('click', 'view')),
ag AS (SELECT day,
         CAST(sum(CASE WHEN role = 'click' AND tc = 1 THEN 1 ELSE 0
           END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN role = 'click' AND tc = 0 THEN 1 ELSE 0
           END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN role = 'view' AND tc = 1 THEN 1 ELSE 0
           END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN role = 'view' AND tc = 0 THEN 1 ELSE 0
           END) AS BIGINT) AS d
       FROM base GROUP BY day)
SELECT day AS day_ts, a, b, c, d, {phi_sql()} AS phi,
       {log_odds_sql()} AS log_odds
FROM ag WHERE (a + b) > 0 AND (c + d) > 0"""


def gmd_text_len_daily(spark: SparkSession, sf: str) -> DataFrame:
    return gmd_by_bucket(_signals(spark, sf))


QUERIES["gmd_text_len_daily"] = gmd_text_len_daily
ORACLE["gmd_text_len_daily"] = f"""{SIG_SQL},
base AS (SELECT date_trunc('day', ts) AS bucket_ts,
           CAST(text_len AS BIGINT) AS v FROM sig),
rkd AS (SELECT bucket_ts,
          (2 * row_number() OVER (PARTITION BY bucket_ts ORDER BY v)
           - CAST(count(*) OVER (PARTITION BY bucket_ts) AS BIGINT)
           - 1) * v AS w_term
        FROM base),
ag AS (SELECT bucket_ts, CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(w_term) AS BIGINT) AS gmd_num
       FROM rkd GROUP BY bucket_ts HAVING count(*) >= 2)
SELECT bucket_ts, n_points, gmd_num, {gmd_sql()} AS gmd FROM ag"""


def latency_by_depth_q(spark: SparkSession, sf: str) -> DataFrame:
    return latency_by_depth(_signals(spark, sf))


QUERIES["latency_by_depth"] = latency_by_depth_q
ORACLE["latency_by_depth"] = f"""{SIG_SQL},
base AS (SELECT CAST(turn_idx AS BIGINT) // 10 AS depth_bucket,
           CAST(inter_time_us AS BIGINT) AS v, conv_id, turn_idx
         FROM sig),
rkd AS (SELECT depth_bucket, v,
          row_number() OVER (PARTITION BY depth_bucket
            ORDER BY v, conv_id, turn_idx) AS rk,
          CAST(count(*) OVER (PARTITION BY depth_bucket) AS BIGINT)
            AS n
        FROM base),
ag AS (SELECT depth_bucket, CAST(max(n) AS BIGINT) AS n_turns,
         CAST(sum(v) AS BIGINT) AS sum_latency_us,
         CAST(max(CASE WHEN rk = (n + 1) // 2 THEN v END) AS BIGINT)
           AS p50_latency_us,
         CAST(max(v) AS BIGINT) AS max_latency_us
       FROM rkd GROUP BY depth_bucket)
SELECT depth_bucket, n_turns, sum_latency_us, p50_latency_us,
       max_latency_us,
       round(CAST(sum_latency_us AS DOUBLE) / CAST(n_turns AS DOUBLE),
         6) AS mean_latency_us
FROM ag"""


def wmedian_latency_daily(spark: SparkSession, sf: str) -> DataFrame:
    return weighted_median_daily(_signals(spark, sf))


QUERIES["wmedian_latency_daily"] = wmedian_latency_daily
# The exact cumulative-weight crossing (robust.weighted_median_daily)
# and the two-proportion z-test with KS-union day pairing
# (nonparam.tool_rate_ztest_daily).
ORACLE["wmedian_latency_daily"] = f"""{SIG_SQL},
base AS (SELECT date_trunc('day', ts) AS day,
           CAST(inter_time_us AS BIGINT) AS v,
           CAST(text_len AS BIGINT) AS w, conv_id, turn_idx
         FROM sig),
stp AS (SELECT day, v, w,
          sum(w) OVER (PARTITION BY day
            ORDER BY v, conv_id, turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
          sum(w) OVER (PARTITION BY day) AS totw
        FROM base),
ag AS (SELECT day, CAST(count(*) AS BIGINT) AS n_turns,
         CAST(max(totw) AS BIGINT) AS total_weight,
         CAST(max(CASE WHEN 2 * (cumw - w) < totw
                        AND 2 * cumw >= totw THEN v END) AS BIGINT)
           AS wmedian
       FROM stp GROUP BY day HAVING max(totw) > 0)
SELECT day AS day_ts, n_turns, total_weight, wmedian FROM ag"""


def tool_rate_ztest(spark: SparkSession, sf: str) -> DataFrame:
    return tool_rate_ztest_daily(_signals(spark, sf))


QUERIES["tool_rate_ztest"] = tool_rate_ztest
ORACLE["tool_rate_ztest"] = f"""{SIG_SQL},
daily AS (SELECT date_trunc('day', ts) AS day,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(tool_call) AS BIGINT) AS a
          FROM sig GROUP BY 1),
u AS (SELECT day AS pair_day, n AS n_cur, a AS a_cur,
             CAST(NULL AS BIGINT) AS n_prev, CAST(NULL AS BIGINT) AS a_prev
      FROM daily
      UNION ALL
      SELECT day + INTERVAL 1 DAY AS pair_day,
             CAST(NULL AS BIGINT) AS n_cur, CAST(NULL AS BIGINT) AS a_cur,
             n AS n_prev, a AS a_prev
      FROM daily),
pd AS (SELECT pair_day, CAST(max(n_prev) AS BIGINT) AS n_prev,
         CAST(max(a_prev) AS BIGINT) AS a_prev,
         CAST(max(n_cur) AS BIGINT) AS n_cur,
         CAST(max(a_cur) AS BIGINT) AS a_cur
       FROM u GROUP BY pair_day
       HAVING max(n_prev) IS NOT NULL AND max(n_cur) IS NOT NULL)
SELECT pair_day AS day_ts, n_prev, a_prev, n_cur, a_cur,
       {two_prop_z_sql()} AS z
FROM pd"""


def trimmed_mean_latency_daily(spark: SparkSession, sf: str) -> DataFrame:
    return trimmed_mean_daily(_signals(spark, sf))


QUERIES["trimmed_mean_latency_daily"] = trimmed_mean_latency_daily
# Olympic trimmed mean (exact n*k//10 rank drop each side) and the exact
# deterministic mode.
ORACLE["trimmed_mean_latency_daily"] = f"""{SIG_SQL},
base AS (SELECT date_trunc('day', ts) AS day,
           CAST(inter_time_us AS BIGINT) AS v, conv_id, turn_idx
         FROM sig),
rkd AS (SELECT day, v,
          row_number() OVER (PARTITION BY day
            ORDER BY v, conv_id, turn_idx) AS rk,
          CAST(count(*) OVER (PARTITION BY day) AS BIGINT) AS n
        FROM base),
ag AS (SELECT day, CAST(max(n) AS BIGINT) AS n_points,
         CAST(max(n * 1 // 10) AS BIGINT) AS n_trimmed_each,
         CAST(sum(CASE WHEN rk > n * 1 // 10
                        AND rk <= n - n * 1 // 10 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN rk > n * 1 // 10
                        AND rk <= n - n * 1 // 10 THEN v ELSE 0 END)
           AS BIGINT) AS sum_kept
       FROM rkd GROUP BY day)
SELECT day AS day_ts, n_points, n_trimmed_each, n_kept, sum_kept,
       CAST(CASE WHEN sum_kept >= 0 THEN sum_kept // n_kept
                 ELSE -((-sum_kept) // n_kept) END AS BIGINT)
         AS trimmed_mean_us
FROM ag"""


def mode_text_len_daily(spark: SparkSession, sf: str) -> DataFrame:
    return mode_daily(_signals(spark, sf))


QUERIES["mode_text_len_daily"] = mode_text_len_daily
ORACLE["mode_text_len_daily"] = f"""{SIG_SQL},
cnt AS (SELECT date_trunc('day', ts) AS day,
          CAST(text_len AS BIGINT) AS v,
          CAST(count(*) AS BIGINT) AS c
        FROM sig GROUP BY 1, 2),
rkd AS (SELECT day, v, c,
          row_number() OVER (PARTITION BY day
            ORDER BY c DESC, v ASC) AS rn,
          CAST(sum(c) OVER (PARTITION BY day) AS BIGINT) AS n_points,
          CAST(count(*) OVER (PARTITION BY day) AS BIGINT)
            AS n_distinct
        FROM cnt)
SELECT day AS day_ts, n_points, n_distinct, v AS mode_value,
       c AS mode_count,
       round(CAST(c AS DOUBLE) / CAST(n_points AS DOUBLE), 6)
         AS mode_share
FROM rkd WHERE rn = 1"""


def doc_len_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    return doc_len_quartiles_by_lang(
        load_table(spark, sf, "documents")
    )


QUERIES["doc_len_quartiles"] = doc_len_quartiles
# Exact per-language length quartiles and the daily conversation
# idle-time share.
ORACLE["doc_len_quartiles"] = """WITH ranked AS (
  SELECT lang, CAST(n_chars AS BIGINT) AS n_chars,
         row_number() OVER (PARTITION BY lang
           ORDER BY n_chars, doc_id) AS rk,
         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_docs
  FROM documents)
SELECT lang, CAST(max(n_docs) AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN rk = greatest(1,
         CAST(ceil(n_docs * 25 / 100.0) AS BIGINT))
         THEN n_chars END) AS BIGINT) AS p25_chars,
       CAST(min(CASE WHEN rk = greatest(1,
         CAST(ceil(n_docs * 50 / 100.0) AS BIGINT))
         THEN n_chars END) AS BIGINT) AS p50_chars,
       CAST(min(CASE WHEN rk = greatest(1,
         CAST(ceil(n_docs * 75 / 100.0) AS BIGINT))
         THEN n_chars END) AS BIGINT) AS p75_chars,
       CAST(min(CASE WHEN rk = greatest(1,
         CAST(ceil(n_docs * 95 / 100.0) AS BIGINT))
         THEN n_chars END) AS BIGINT) AS p95_chars
FROM ranked GROUP BY lang"""


def dod_growth_q(spark: SparkSession, sf: str) -> DataFrame:
    return dod_growth(_signals(spark, sf))


QUERIES["dod_growth"] = dod_growth_q
ORACLE["dod_growth"] = f"""{SIG_SQL},
daily AS (SELECT date_trunc('day', ts) AS day_ts,
            CAST(count(*) AS BIGINT) AS n_turns
          FROM sig GROUP BY 1),
lg AS (SELECT day_ts, n_turns,
         CAST(CASE WHEN lag(day_ts) OVER w
           = day_ts - INTERVAL 1 DAY
           THEN lag(n_turns) OVER w END AS BIGINT) AS prev_n_turns
       FROM daily WINDOW w AS (ORDER BY day_ts))
SELECT day_ts, n_turns, prev_n_turns,
       CASE WHEN prev_n_turns > 0 THEN
         round(CAST(n_turns - prev_n_turns AS DOUBLE)
           / CAST(prev_n_turns AS DOUBLE), 6) END AS dod_growth
FROM lg"""


def text_len_cdf_q(spark: SparkSession, sf: str) -> DataFrame:
    return text_len_cdf(_signals(spark, sf))


QUERIES["text_len_cdf"] = text_len_cdf_q

_cdf_counts = ",\n         ".join(
    f"CAST(sum(CASE WHEN text_len <= {t} THEN 1 ELSE 0 END)"
    f" AS BIGINT) AS n_le_{t}"
    for t in (16, 64, 256, 1024)
)

_cdf_shares = ",\n       ".join(
    f"round(CAST(n_le_{t} AS DOUBLE) / CAST(n_turns AS DOUBLE), 6)"
    f" AS share_le_{t}"
    for t in (16, 64, 256, 1024)
)

ORACLE["text_len_cdf"] = f"""{SIG_SQL},
ag AS (SELECT CAST(count(*) AS BIGINT) AS n_turns,
         {_cdf_counts}
       FROM sig)
SELECT n_turns, n_le_16, n_le_64, n_le_256, n_le_1024,
       {_cdf_shares}
FROM ag"""


def median_len_by_role(spark: SparkSession, sf: str) -> DataFrame:
    return median_text_len_by_role(_signals(spark, sf))


QUERIES["median_len_by_role"] = median_len_by_role
ORACLE["median_len_by_role"] = f"""{SIG_SQL},
ranked AS (SELECT role, CAST(text_len AS BIGINT) AS text_len,
             row_number() OVER (PARTITION BY role
               ORDER BY text_len, conv_id, turn_idx) AS rk,
             CAST(count(*) OVER (PARTITION BY role) AS BIGINT)
               AS n_turns
           FROM sig)
SELECT role, n_turns, text_len AS median_text_len
FROM ranked WHERE rk = (n_turns + 1) // 2"""


def median_latency_by_role_q(
    spark: SparkSession, sf: str
) -> DataFrame:
    return median_latency_by_role(_signals(spark, sf))


QUERIES["median_latency_by_role"] = median_latency_by_role_q
ORACLE["median_latency_by_role"] = f"""{SIG_SQL},
ranked AS (SELECT role, CAST(inter_time_us AS BIGINT)
             AS inter_time_us,
             row_number() OVER (PARTITION BY role
               ORDER BY inter_time_us, conv_id, turn_idx) AS rk,
             CAST(count(*) OVER (PARTITION BY role) AS BIGINT)
               AS n_turns
           FROM sig)
SELECT role, n_turns, inter_time_us AS median_latency_us
FROM ranked WHERE rk = (n_turns + 1) // 2"""


def hll_overlap_1d(spark: SparkSession, sf: str) -> DataFrame:
    return hll_overlap(transcripts_from_events(spark, sf))


QUERIES["hll_overlap_1d"] = hll_overlap_1d
# HLL inclusion-exclusion overlap (the identical register pipeline as
# hll_distinct_1d, run three times: today, the +7-day shifted copy, and
# their register-MAX union) and the month-to-date revenue pacing curve.
ORACLE["hll_overlap_1d"] = f"""WITH t AS ({TRANSCRIPTS_SQL}),
hv AS (SELECT date_trunc('day', ts) AS bucket_ts, conv_id,
              CAST(('0x' || substr(md5('hll:' || conv_id), 1, 8))
                   AS BIGINT) AS h
       FROM t),
regs AS (
  SELECT bucket_ts, h // 16777216 AS idx,
         CAST(max(CASE WHEN h % 16777216 = 0 THEN 25
                  ELSE 25 - length(format('{{:b}}', h % 16777216)) END)
              AS INT) AS r
  FROM hv GROUP BY bucket_ts, idx),
regs_b AS (SELECT bucket_ts + INTERVAL 7 DAY AS bucket_ts, idx, r
           FROM regs),
regs_u AS (SELECT bucket_ts, idx, CAST(max(r) AS INT) AS r
           FROM (SELECT * FROM regs UNION ALL SELECT * FROM regs_b)
           GROUP BY bucket_ts, idx),
ea AS (SELECT bucket_ts, CAST(count(*) AS BIGINT) AS present,
         CAST(sum(CAST(1 AS BIGINT) << (25 - r)) AS BIGINT) AS s
       FROM regs GROUP BY bucket_ts),
eb AS (SELECT bucket_ts, CAST(count(*) AS BIGINT) AS present,
         CAST(sum(CAST(1 AS BIGINT) << (25 - r)) AS BIGINT) AS s
       FROM regs_b GROUP BY bucket_ts),
eu AS (SELECT bucket_ts, CAST(count(*) AS BIGINT) AS present,
         CAST(sum(CAST(1 AS BIGINT) << (25 - r)) AS BIGINT) AS s
       FROM regs_u GROUP BY bucket_ts),
fa AS (SELECT bucket_ts,
         round(CASE WHEN raw <= 640.0 AND present < 256
           THEN 256.0 * ln(256.0 / CAST(256 - present AS DOUBLE))
           ELSE raw END, 6) AS est
       FROM (SELECT bucket_ts, present,
               {_HLL_C!r} / CAST(s + (256 - present) * 33554432
                                 AS DOUBLE) AS raw FROM ea)),
fb AS (SELECT bucket_ts,
         round(CASE WHEN raw <= 640.0 AND present < 256
           THEN 256.0 * ln(256.0 / CAST(256 - present AS DOUBLE))
           ELSE raw END, 6) AS est
       FROM (SELECT bucket_ts, present,
               {_HLL_C!r} / CAST(s + (256 - present) * 33554432
                                 AS DOUBLE) AS raw FROM eb)),
fu AS (SELECT bucket_ts,
         round(CASE WHEN raw <= 640.0 AND present < 256
           THEN 256.0 * ln(256.0 / CAST(256 - present AS DOUBLE))
           ELSE raw END, 6) AS est
       FROM (SELECT bucket_ts, present,
               {_HLL_C!r} / CAST(s + (256 - present) * 33554432
                                 AS DOUBLE) AS raw FROM eu)),
act AS (SELECT DISTINCT conv_id, date_trunc('day', ts) AS bucket_ts
        FROM t),
tb AS (SELECT a.bucket_ts, CAST(count(*) AS BIGINT) AS n_both_true
       FROM act a JOIN (SELECT conv_id,
                          bucket_ts + INTERVAL 7 DAY AS bucket_ts
                        FROM act) s2
         ON a.conv_id = s2.conv_id AND a.bucket_ts = s2.bucket_ts
       GROUP BY a.bucket_ts)
SELECT fa.bucket_ts, fa.est AS est_today, fb.est AS est_lag,
       fu.est AS est_union,
       round(fa.est + fb.est - fu.est, 6) AS overlap_est,
       CAST(coalesce(tb.n_both_true, 0) AS BIGINT) AS n_both_true
FROM fa JOIN fb ON fa.bucket_ts = fb.bucket_ts
JOIN fu ON fa.bucket_ts = fu.bucket_ts
LEFT JOIN tb ON fa.bucket_ts = tb.bucket_ts"""


def conv_p95_profile_q(spark: SparkSession, sf: str) -> DataFrame:
    return conv_p95_profile(_signals(spark, sf))


QUERIES["conv_p95_profile"] = conv_p95_profile_q
ORACLE["conv_p95_profile"] = f"""{SIG_SQL},
g AS (SELECT conv_id, CAST(inter_time_us AS BIGINT) AS g, turn_idx
      FROM sig WHERE turn_idx >= 1),
r1 AS (SELECT conv_id, g,
         row_number() OVER (PARTITION BY conv_id
           ORDER BY g, turn_idx) AS rk,
         CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n
       FROM g),
cp AS (SELECT conv_id, g AS p95_us FROM r1
       WHERE rk = (95 * n + 99) // 100),
r2 AS (SELECT conv_id, p95_us,
         row_number() OVER (ORDER BY p95_us, conv_id) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n
       FROM cp)
SELECT CAST(max(n) AS BIGINT) AS n_convs,
       CAST(max(CASE WHEN rk = (n + 1) // 2 THEN p95_us END)
         AS BIGINT) AS p50_conv_p95_us,
       CAST(max(CASE WHEN rk = (95 * n + 99) // 100 THEN p95_us END)
         AS BIGINT) AS p95_conv_p95_us,
       CAST(max(p95_us) AS BIGINT) AS max_conv_p95_us
FROM r2"""


def reciprocity_matrix(spark: SparkSession, sf: str) -> DataFrame:
    return role_reciprocity(_signals(spark, sf))


QUERIES["reciprocity_matrix"] = reciprocity_matrix
ORACLE["reciprocity_matrix"] = f"""{SIG_SQL},
p AS (SELECT role,
        lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
          AS next_role,
        CAST(text_len AS BIGINT) AS x,
        lead(CAST(text_len AS BIGINT)) OVER (PARTITION BY conv_id
          ORDER BY turn_idx) AS y
      FROM sig),
a AS (SELECT role, next_role, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x * y) AS BIGINT) AS sxy,
        CAST(sum(x * x) AS BIGINT) AS sxx,
        CAST(sum(y * y) AS BIGINT) AS syy
      FROM p WHERE next_role IS NOT NULL GROUP BY role, next_role)
SELECT role, next_role, n_pairs,
       CASE WHEN (CAST(n_pairs AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) > 0 AND (CAST(n_pairs AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) > 0 THEN round((CAST(n_pairs AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) / (sqrt(CAST(n_pairs AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) * sqrt(CAST(n_pairs AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6) END AS r
FROM a"""


def oracle() -> dict[str, str]:
    return ORACLE
