"""TPC-H queries and order/lineitem analytics over the TPC-H tables.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession

from aroma_spark.operators.tpch import (
    DISJUNCT_TRIPLES,
    benford_order_value,
    brand_price_spread,
    cust_trend_sign,
    customer_balance_by_segment,
    discount_hist,
    disjunctive_revenue,
    forecast_revenue_change,
    fulfillment_by_priority,
    idle_rich_customers,
    large_orders,
    late_order_share,
    lines_per_order_hist,
    nation_trade_volume,
    order_backlog_daily,
    order_interarrival_hist,
    order_price_audit,
    order_sla_monthly,
    order_status_priority,
    order_value_by_priority,
    orders_dow_mix,
    orders_month_mix,
    orders_per_customer_by_region,
    orders_per_customer_hist,
    part_class_revenue,
    pricing_summary,
    priority_mix_monthly,
    priority_segment_mix,
    promo_revenue_monthly,
    qty_discount_curve,
    region_nation_rollup,
    region_revenue_mix,
    regional_revenue,
    retail_markup_by_class,
    returned_revenue_by_customer,
    returns_by_month,
    revenue_pacing_monthly,
    revenue_seasonal_index,
    rolling_median_revenue,
    round_number_audit,
    ship_delay_by_nation,
    shipping_priority,
    sole_late_suppliers,
    supplier_balance_by_nation,
    supplier_breadth_hist,
    supplier_share_monthly,
    top_order_monthly,
    value_vs_speed_deciles,
)
from aroma_spark.registry import Query
from aroma_spark.sources.transcripts import load_table

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}


def tpch_q1_pricing(spark: SparkSession, sf: str) -> DataFrame:
    return pricing_summary(load_table(spark, sf, "lineitem"))


QUERIES["tpch_q1_pricing"] = tpch_q1_pricing

# Integer-exact Q1 scan-agg and Q3 broadcast-dim top-k join, money
# quantized via the floor(x*k + 0.5) rule of operators/business.py.
_pc = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"

_dh = "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"

_th = "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)"

_qi = "CAST(floor(l_quantity + 0.5) AS BIGINT)"

ORACLE["tpch_q1_pricing"] = f"""WITH base AS (
  SELECT l_returnflag, l_linestatus, {_qi} AS qty, {_pc} AS price_c,
         {_dh} AS disc_h, {_th} AS tax_h
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'),
ag AS (SELECT l_returnflag, l_linestatus,
         CAST(sum(qty) AS BIGINT) AS sum_qty,
         CAST(sum(price_c) AS BIGINT) AS sum_base_price_c,
         CAST(sum(price_c * (100 - disc_h)) AS BIGINT)
           AS sum_disc_price_ch,
         CAST(sum(price_c * (100 - disc_h) * (100 + tax_h)) AS BIGINT)
           AS sum_charge_chh,
         CAST(sum(disc_h) AS BIGINT) AS sum_disc_h,
         CAST(count(*) AS BIGINT) AS n_rows
       FROM base GROUP BY l_returnflag, l_linestatus)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price_c,
       sum_disc_price_ch, sum_charge_chh, n_rows,
       round(CAST(sum_qty AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
         AS avg_qty,
       round(CAST(sum_base_price_c AS DOUBLE)
         / CAST(n_rows AS DOUBLE), 6) AS avg_price_c,
       round(CAST(sum_disc_h AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
         AS avg_disc_h
FROM ag"""


def tpch_q3_shipping(spark: SparkSession, sf: str) -> DataFrame:
    return shipping_priority(
        load_table(spark, sf, "customer"),
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
    )


QUERIES["tpch_q3_shipping"] = tpch_q3_shipping
ORACLE["tpch_q3_shipping"] = f"""WITH li AS (
  SELECT l_orderkey, {_pc} * (100 - {_dh}) AS rev_ch
  FROM lineitem WHERE l_shipdate > TIMESTAMP '1996-03-15'),
j AS (SELECT o.o_orderkey, o.o_orderdate,
        CAST(sum(li.rev_ch) AS BIGINT) AS revenue_ch,
        CAST(count(*) AS BIGINT) AS n_lines
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
        AND c.c_mktsegment = 'BUILDING'
      JOIN li ON o.o_orderkey = li.l_orderkey
      WHERE o.o_orderdate < TIMESTAMP '1996-03-15'
      GROUP BY o.o_orderkey, o.o_orderdate),
rk AS (SELECT *, row_number() OVER (ORDER BY revenue_ch DESC,
         o_orderkey ASC) AS rnk FROM j)
SELECT o_orderkey, o_orderdate, revenue_ch, n_lines,
       CAST(rnk AS BIGINT) AS rank
FROM rk WHERE rnk <= 10"""


def tpch_q5_regional(spark: SparkSession, sf: str) -> DataFrame:
    return regional_revenue(
        load_table(spark, sf, "customer"),
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "supplier"),
        load_table(spark, sf, "nation"),
        load_table(spark, sf, "region"),
    )


QUERIES["tpch_q5_regional"] = tpch_q5_regional
ORACLE["tpch_q5_regional"] = f"""WITH li AS (
  SELECT l_orderkey, l_suppkey, {_pc} * (100 - {_dh}) AS rev_ch
  FROM lineitem),
j AS (SELECT n.n_name, li.rev_ch
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN li ON o.o_orderkey = li.l_orderkey
      JOIN supplier s ON li.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
        AND c.c_nationkey = s.s_nationkey
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01')
SELECT n_name, CAST(sum(rev_ch) AS BIGINT) AS revenue_ch,
       CAST(count(*) AS BIGINT) AS n_lines
FROM j GROUP BY n_name"""


def tpch_q18_large(spark: SparkSession, sf: str) -> DataFrame:
    return large_orders(
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
    )


QUERIES["tpch_q18_large"] = tpch_q18_large
ORACLE["tpch_q18_large"] = f"""WITH qty AS (
  SELECT l_orderkey, CAST(sum({_qi}) AS BIGINT) AS total_qty,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY l_orderkey HAVING sum({_qi}) > 25)
SELECT o.o_orderkey, o.o_orderdate, q.total_qty, q.n_lines
FROM orders o JOIN qty q ON o.o_orderkey = q.l_orderkey"""


def tpch_q14_promo(spark: SparkSession, sf: str) -> DataFrame:
    return promo_revenue_monthly(
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "part"),
    )


QUERIES["tpch_q14_promo"] = tpch_q14_promo
ORACLE["tpch_q14_promo"] = f"""WITH li AS (
  SELECT l_partkey, date_trunc('month', l_shipdate) AS month_ts,
         {_pc} * (100 - {_dh}) AS rev_ch
  FROM lineitem),
j AS (SELECT li.month_ts, li.rev_ch,
        starts_with(p.p_type, 'PROMO') AS is_promo
      FROM li JOIN part p ON li.l_partkey = p.p_partkey),
ag AS (SELECT month_ts, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN is_promo THEN rev_ch ELSE 0 END)
           AS BIGINT) AS promo_rev_ch,
         CAST(sum(rev_ch) AS BIGINT) AS total_rev_ch
       FROM j GROUP BY month_ts)
SELECT month_ts, n_lines, promo_rev_ch, total_rev_ch,
       CASE WHEN total_rev_ch > 0 THEN
         round(CAST(promo_rev_ch AS DOUBLE)
           / CAST(total_rev_ch AS DOUBLE), 6) END AS promo_share
FROM ag"""


def orders_status_priority(spark: SparkSession, sf: str) -> DataFrame:
    return order_status_priority(load_table(spark, sf, "orders"))


QUERIES["orders_status_priority"] = orders_status_priority
ORACLE["orders_status_priority"] = """WITH cells AS (
  SELECT o_orderpriority, o_orderstatus,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS total_cents
  FROM orders GROUP BY o_orderpriority, o_orderstatus),
w AS (SELECT cells.*,
        CAST(sum(n_orders) OVER (PARTITION BY o_orderpriority)
          AS BIGINT) AS n_priority
      FROM cells)
SELECT o_orderpriority, o_orderstatus, n_orders, total_cents,
       n_priority,
       round(CAST(n_orders AS DOUBLE) / CAST(n_priority AS DOUBLE), 6)
         AS status_share
FROM w"""


def returns_by_month_q(spark: SparkSession, sf: str) -> DataFrame:
    return returns_by_month(load_table(spark, sf, "lineitem"))


QUERIES["returns_by_month"] = returns_by_month_q
ORACLE["returns_by_month"] = f"""WITH cells AS (
  SELECT date_trunc('month', l_shipdate) AS month_ts, l_returnflag,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum({_pc}) AS BIGINT) AS value_c
  FROM lineitem GROUP BY 1, 2),
w AS (SELECT cells.*,
        CAST(sum(n_lines) OVER (PARTITION BY month_ts) AS BIGINT)
          AS n_month
      FROM cells)
SELECT month_ts, l_returnflag, n_lines, value_c, n_month,
       round(CAST(n_lines AS DOUBLE) / CAST(n_month AS DOUBLE), 6)
         AS flag_share
FROM w"""


def customer_balance_segments(spark: SparkSession, sf: str) -> DataFrame:
    return customer_balance_by_segment(load_table(spark, sf, "customer"))


QUERIES["customer_balance_segments"] = customer_balance_segments
# C_acctbal cents profile (negatives round-half-up identically via the
# floor rule) and the per-month top-supplier revenue share.
ORACLE["customer_balance_segments"] = """WITH base AS (
  SELECT c_mktsegment,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
  FROM customer),
ag AS (SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(bal_c) AS BIGINT) AS sum_bal_c,
         CAST(min(bal_c) AS BIGINT) AS min_bal_c,
         CAST(max(bal_c) AS BIGINT) AS max_bal_c,
         CAST(sum(CASE WHEN bal_c < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_negative
       FROM base GROUP BY c_mktsegment)
SELECT c_mktsegment, n_customers, sum_bal_c, min_bal_c, max_bal_c,
       n_negative,
       round(CAST(sum_bal_c AS DOUBLE) / CAST(n_customers AS DOUBLE),
         6) AS mean_bal_c
FROM ag"""


def supplier_share_1mo(spark: SparkSession, sf: str) -> DataFrame:
    return supplier_share_monthly(load_table(spark, sf, "lineitem"))


QUERIES["supplier_share_1mo"] = supplier_share_1mo
ORACLE["supplier_share_1mo"] = f"""WITH ps AS (
  SELECT date_trunc('month', l_shipdate) AS month_ts, l_suppkey,
         CAST(sum({_pc} * (100 - {_dh})) AS BIGINT) AS rev_ch
  FROM lineitem GROUP BY 1, 2),
rk AS (SELECT ps.*,
         row_number() OVER (PARTITION BY month_ts
           ORDER BY rev_ch DESC, l_suppkey ASC) AS rn,
         CAST(count(*) OVER (PARTITION BY month_ts) AS BIGINT)
           AS n_suppliers,
         CAST(sum(rev_ch) OVER (PARTITION BY month_ts) AS BIGINT)
           AS total_rev_ch
       FROM ps)
SELECT month_ts, n_suppliers, total_rev_ch,
       l_suppkey AS top_suppkey, rev_ch AS top_rev_ch,
       CASE WHEN total_rev_ch > 0 THEN round(CAST(rev_ch AS DOUBLE)
         / CAST(total_rev_ch AS DOUBLE), 6) END AS top_share
FROM rk WHERE rn = 1"""


def tpch_q6_revenue(spark: SparkSession, sf: str) -> DataFrame:
    return forecast_revenue_change(load_table(spark, sf, "lineitem"))


QUERIES["tpch_q6_revenue"] = tpch_q6_revenue
ORACLE["tpch_q6_revenue"] = f"""WITH base AS (
  SELECT {_qi} AS qty, {_pc} AS price_c, {_dh} AS disc_h
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'),
sel AS (SELECT * FROM base
        WHERE disc_h BETWEEN 5 AND 7 AND qty < 24),
ag AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(qty) AS BIGINT) AS sum_qty,
         CAST(sum(price_c * disc_h) AS BIGINT) AS revenue_ch,
         CAST(sum(disc_h) AS BIGINT) AS sum_disc_h
       FROM sel)
SELECT n_rows, sum_qty, revenue_ch,
       CASE WHEN n_rows > 0 THEN
         round(CAST(sum_disc_h AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
       END AS avg_disc_h
FROM ag"""


def tpch_q10_returns(spark: SparkSession, sf: str) -> DataFrame:
    return returned_revenue_by_customer(
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "customer"),
        load_table(spark, sf, "nation"),
    )


QUERIES["tpch_q10_returns"] = tpch_q10_returns
ORACLE["tpch_q10_returns"] = f"""WITH li AS (
  SELECT l_orderkey, {_pc} * (100 - {_dh}) AS rev_ch
  FROM lineitem WHERE l_returnflag = 'R'),
o_win AS (SELECT o_orderkey, o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1996-04-01'),
per_cust AS (SELECT o.o_custkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(li.rev_ch) AS BIGINT) AS revenue_ch
             FROM li JOIN o_win o ON li.l_orderkey = o.o_orderkey
             GROUP BY o.o_custkey),
top AS (SELECT * FROM per_cust
        ORDER BY revenue_ch DESC, o_custkey ASC LIMIT 20)
SELECT c.c_custkey, c.c_name, n.n_name, c.c_mktsegment,
       t.n_lines, t.revenue_ch
FROM top t
JOIN customer c ON t.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey"""


def tpch_q22_idle(spark: SparkSession, sf: str) -> DataFrame:
    return idle_rich_customers(
        load_table(spark, sf, "customer"),
        load_table(spark, sf, "orders"),
    )


QUERIES["tpch_q22_idle"] = tpch_q22_idle
ORACLE["tpch_q22_idle"] = """WITH bal AS (
  SELECT c_custkey, c_mktsegment,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
  FROM customer),
pos AS (SELECT CAST(sum(bal_c) AS BIGINT) AS sum_pos_c,
          CAST(count(*) AS BIGINT) AS n_pos
        FROM bal WHERE bal_c > 0),
rich AS (SELECT b.c_custkey, b.c_mktsegment, b.bal_c
         FROM bal b, pos
         WHERE b.bal_c * pos.n_pos > pos.sum_pos_c),
fl AS (SELECT r.c_mktsegment, r.bal_c,
         NOT EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = r.c_custkey) AS is_idle
       FROM rich r),
ag AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rich,
         CAST(sum(CASE WHEN is_idle THEN 1 ELSE 0 END) AS BIGINT)
           AS n_idle,
         CAST(sum(bal_c) AS BIGINT) AS sum_bal_c,
         CAST(sum(CASE WHEN is_idle THEN bal_c ELSE 0 END) AS BIGINT)
           AS sum_idle_bal_c
       FROM fl GROUP BY c_mktsegment)
SELECT c_mktsegment, n_rich, n_idle, sum_bal_c, sum_idle_bal_c,
       round(CAST(n_idle AS DOUBLE) / CAST(n_rich AS DOUBLE), 6)
         AS idle_share
FROM ag"""


def tpch_q7_trade(spark: SparkSession, sf: str) -> DataFrame:
    return nation_trade_volume(
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "customer"),
        load_table(spark, sf, "supplier"),
        load_table(spark, sf, "nation"),
    )


QUERIES["tpch_q7_trade"] = tpch_q7_trade
# The Q7 nation-pair trade matrix and the Q19 OR-of-ANDs revenue. The
# Q19 predicate is generated from the SAME triple table the Spark
# operator uses.
ORACLE["tpch_q7_trade"] = f"""WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         {_pc} * (100 - {_dh}) AS rev_ch
  FROM lineitem),
sd AS (SELECT s.s_suppkey, n.n_name AS supp_nation
       FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey),
cd AS (SELECT c.c_custkey, n.n_name AS cust_nation
       FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
ow AS (SELECT o.o_orderkey, cd.cust_nation
       FROM orders o JOIN cd ON o.o_custkey = cd.c_custkey),
ag AS (SELECT sd.supp_nation, ow.cust_nation, li.l_year,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(li.rev_ch) AS BIGINT) AS revenue_ch
       FROM li
       JOIN sd ON li.l_suppkey = sd.s_suppkey
       JOIN ow ON li.l_orderkey = ow.o_orderkey
       GROUP BY sd.supp_nation, ow.cust_nation, li.l_year)
SELECT supp_nation, cust_nation, l_year, n_lines, revenue_ch,
       CAST(revenue_ch // n_lines AS BIGINT) AS avg_line_rev_ch
FROM ag"""


def tpch_q19_disjunct(spark: SparkSession, sf: str) -> DataFrame:
    return disjunctive_revenue(
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "part"),
    )


QUERIES["tpch_q19_disjunct"] = tpch_q19_disjunct

_disj = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
    f" AND qty BETWEEN {qlo} AND {qhi})"
    for b, slo, shi, qlo, qhi in DISJUNCT_TRIPLES
)

_brands = ", ".join(
    f"'{b}'" for b in sorted({t[0] for t in DISJUNCT_TRIPLES})
)

ORACLE["tpch_q19_disjunct"] = f"""WITH li AS (
  SELECT l_partkey, {_qi} AS qty,
         {_pc} * (100 - {_dh}) AS rev_ch
  FROM lineitem),
p AS (SELECT p_partkey, p_brand, p_size FROM part
      WHERE p_brand IN ({_brands})),
sel AS (SELECT p.p_brand, li.qty, li.rev_ch
        FROM li JOIN p ON li.l_partkey = p.p_partkey
        WHERE {_disj})
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(qty) AS BIGINT) AS sum_qty,
       CAST(sum(rev_ch) AS BIGINT) AS revenue_ch
FROM sel GROUP BY p_brand"""


def fulfillment_priority(spark: SparkSession, sf: str) -> DataFrame:
    return fulfillment_by_priority(
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
    )


QUERIES["fulfillment_priority"] = fulfillment_priority
ORACLE["fulfillment_priority"] = """WITH ls AS (
  SELECT l_orderkey, max(l_shipdate) AS last_shipdate
  FROM lineitem GROUP BY l_orderkey),
j AS (SELECT o.o_orderpriority,
        CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
          CAST(ls.last_shipdate AS DATE)) AS BIGINT) AS days
      FROM orders o JOIN ls ON o.o_orderkey = ls.l_orderkey),
ag AS (SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(days) AS BIGINT) AS sum_days,
         CAST(min(days) AS BIGINT) AS min_days,
         CAST(max(days) AS BIGINT) AS max_days
       FROM j GROUP BY o_orderpriority)
SELECT o_orderpriority, n_orders, sum_days, min_days, max_days,
       round(CAST(sum_days AS DOUBLE) / CAST(n_orders AS DOUBLE), 6)
         AS mean_days
FROM ag"""


def orders_per_cust_hist(spark: SparkSession, sf: str) -> DataFrame:
    return orders_per_customer_hist(load_table(spark, sf, "orders"))


QUERIES["orders_per_cust_hist"] = orders_per_cust_hist
ORACLE["orders_per_cust_hist"] = """WITH pc AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey),
bk AS (SELECT CAST(length(bin(n_orders)) - 1 AS INTEGER) AS bucket,
         n_orders
       FROM pc),
hist AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(n_orders) AS BIGINT) AS sum_orders
         FROM bk GROUP BY bucket),
tot AS (SELECT CAST(sum(n_customers) AS BIGINT) AS total_customers
        FROM hist)
SELECT h.bucket, CAST(1 << h.bucket AS BIGINT) AS lo_orders,
       h.n_customers, h.sum_orders,
       round(CAST(h.n_customers AS DOUBLE)
         / CAST(tot.total_customers AS DOUBLE), 6) AS share
FROM hist h, tot"""


def part_class_rev(spark: SparkSession, sf: str) -> DataFrame:
    return part_class_revenue(
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "part"),
    )


QUERIES["part_class_rev"] = part_class_rev
ORACLE["part_class_rev"] = f"""WITH cls AS (
  SELECT p_partkey, split_part(p_type, ' ', 1) AS part_class
  FROM part),
ag AS (SELECT c.part_class, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum({_pc} * (100 - {_dh})) AS BIGINT) AS revenue_ch
       FROM lineitem li JOIN cls c ON li.l_partkey = c.p_partkey
       GROUP BY c.part_class),
tot AS (SELECT ag.*, CAST(sum(revenue_ch) OVER () AS BIGINT)
          AS total_ch FROM ag)
SELECT part_class, n_lines, revenue_ch,
       round(CAST(revenue_ch AS DOUBLE) / CAST(total_ch AS DOUBLE), 6)
         AS revenue_share
FROM tot"""


def order_price_audit_q(spark: SparkSession, sf: str) -> DataFrame:
    return order_price_audit(
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
    )


QUERIES["order_price_audit"] = order_price_audit_q
# The header-vs-lines money audit and the supplier-region revenue mix.
ORACLE["order_price_audit"] = f"""WITH lc AS (
  SELECT l_orderkey,
         CAST(sum({_pc} * (100 - {_dh}) * (100 + {_th})) AS BIGINT)
           AS charge_chh
  FROM lineitem GROUP BY l_orderkey),
j AS (SELECT o.o_orderstatus,
        abs(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
          - charge_chh // 10000) AS abs_gap_c
      FROM orders o JOIN lc ON o.o_orderkey = lc.l_orderkey),
ag AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CASE WHEN abs_gap_c <= 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_within_tol,
         CAST(max(abs_gap_c) AS BIGINT) AS max_abs_gap_c,
         CAST(sum(abs_gap_c) AS BIGINT) AS sum_abs_gap_c
       FROM j GROUP BY o_orderstatus)
SELECT o_orderstatus, n_orders, n_within_tol, max_abs_gap_c,
       sum_abs_gap_c,
       round(CAST(n_within_tol AS DOUBLE) / CAST(n_orders AS DOUBLE), 6)
         AS within_share
FROM ag"""


def region_rev_mix(spark: SparkSession, sf: str) -> DataFrame:
    return region_revenue_mix(
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "supplier"),
        load_table(spark, sf, "nation"),
        load_table(spark, sf, "region"),
    )


QUERIES["region_rev_mix"] = region_rev_mix
ORACLE["region_rev_mix"] = f"""WITH nat AS (
  SELECT n.n_nationkey, r.r_name
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
supp AS (SELECT s.s_suppkey, nat.r_name
         FROM supplier s JOIN nat ON s.s_nationkey = nat.n_nationkey),
ag AS (SELECT supp.r_name, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum({_pc} * (100 - {_dh})) AS BIGINT) AS revenue_ch
       FROM lineitem li JOIN supp ON li.l_suppkey = supp.s_suppkey
       GROUP BY supp.r_name),
tot AS (SELECT ag.*, CAST(sum(revenue_ch) OVER () AS BIGINT)
          AS total_ch FROM ag)
SELECT r_name, n_lines, revenue_ch,
       round(CAST(revenue_ch AS DOUBLE) / CAST(total_ch AS DOUBLE), 6)
         AS revenue_share
FROM tot"""


def orders_month_mix_q(spark: SparkSession, sf: str) -> DataFrame:
    return orders_month_mix(load_table(spark, sf, "orders"))


QUERIES["orders_month_mix"] = orders_month_mix_q
ORACLE["orders_month_mix"] = """WITH ag AS (
  SELECT CAST(month(o_orderdate) AS INTEGER) AS month,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS sum_total_c
  FROM orders GROUP BY 1),
tot AS (SELECT ag.*, CAST(sum(n_orders) OVER () AS BIGINT)
          AS all_orders FROM ag)
SELECT month, n_orders, sum_total_c,
       round(CAST(n_orders AS DOUBLE) / CAST(all_orders AS DOUBLE), 6)
         AS order_share
FROM tot"""


def ship_delay_nation(spark: SparkSession, sf: str) -> DataFrame:
    return ship_delay_by_nation(
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "supplier"),
        load_table(spark, sf, "nation"),
    )


QUERIES["ship_delay_nation"] = ship_delay_nation
# Logistics, funnels, money splits, mixes and the per-dimension
# embedding census.
ORACLE["ship_delay_nation"] = """WITH sd AS (
  SELECT s.s_suppkey, n.n_name AS supp_nation
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey),
j AS (SELECT sd.supp_nation,
        CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
          CAST(li.l_shipdate AS DATE)) AS BIGINT) AS days
      FROM lineitem li
      JOIN orders o ON li.l_orderkey = o.o_orderkey
      JOIN sd ON li.l_suppkey = sd.s_suppkey),
ag AS (SELECT supp_nation, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(days) AS BIGINT) AS sum_days,
         CAST(min(days) AS BIGINT) AS min_days,
         CAST(max(days) AS BIGINT) AS max_days
       FROM j GROUP BY supp_nation)
SELECT supp_nation, n_lines, sum_days, min_days, max_days,
       round(CAST(sum_days AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
         AS mean_days
FROM ag"""


def order_value_priority(spark: SparkSession, sf: str) -> DataFrame:
    return order_value_by_priority(load_table(spark, sf, "orders"))


QUERIES["order_value_priority"] = order_value_priority
ORACLE["order_value_priority"] = """WITH base AS (
  SELECT o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
  FROM orders),
ag AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(total_c) AS BIGINT) AS sum_total_c,
         CAST(min(total_c) AS BIGINT) AS min_total_c,
         CAST(max(total_c) AS BIGINT) AS max_total_c
       FROM base GROUP BY o_orderpriority)
SELECT o_orderpriority, n_orders, sum_total_c, min_total_c,
       max_total_c,
       round(CAST(sum_total_c AS DOUBLE) / CAST(n_orders AS DOUBLE), 6)
         AS mean_total_c
FROM ag"""


def top_order_1mo(spark: SparkSession, sf: str) -> DataFrame:
    return top_order_monthly(load_table(spark, sf, "orders"))


QUERIES["top_order_1mo"] = top_order_1mo
ORACLE["top_order_1mo"] = """WITH base AS (
  SELECT date_trunc('month', o_orderdate) AS month_ts, o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
  FROM orders),
rk AS (SELECT month_ts, o_orderkey, total_c,
         row_number() OVER (PARTITION BY month_ts
           ORDER BY total_c DESC, o_orderkey ASC) AS rn,
         CAST(count(*) OVER (PARTITION BY month_ts) AS BIGINT)
           AS n_orders,
         CAST(sum(total_c) OVER (PARTITION BY month_ts) AS BIGINT)
           AS month_total_c
       FROM base)
SELECT month_ts, o_orderkey, total_c AS top_total_c, n_orders,
       month_total_c,
       CASE WHEN month_total_c > 0 THEN round(CAST(total_c AS DOUBLE)
         / CAST(month_total_c AS DOUBLE), 6) END AS top_share
FROM rk WHERE rn = 1"""


def order_gap_hist(spark: SparkSession, sf: str) -> DataFrame:
    return order_interarrival_hist(load_table(spark, sf, "orders"))


QUERIES["order_gap_hist"] = order_gap_hist
ORACLE["order_gap_hist"] = """WITH g AS (
  SELECT CAST(date_diff('day',
           CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS DATE),
           CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
  FROM orders),
bk AS (SELECT CAST(length(bin(gap_days + 1)) - 1 AS INTEGER)
         AS bucket, gap_days
       FROM g WHERE gap_days IS NOT NULL),
hist AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(gap_days) AS BIGINT) AS sum_gap_days
         FROM bk GROUP BY bucket),
tot AS (SELECT hist.*, CAST(sum(n_gaps) OVER () AS BIGINT)
          AS total_gaps FROM hist)
SELECT bucket, CAST((1 << bucket) - 1 AS BIGINT) AS lo_gap_days,
       n_gaps, sum_gap_days,
       round(CAST(n_gaps AS DOUBLE) / CAST(total_gaps AS DOUBLE), 6)
         AS share
FROM tot"""


def supplier_bal_nation(spark: SparkSession, sf: str) -> DataFrame:
    return supplier_balance_by_nation(
        load_table(spark, sf, "supplier"),
        load_table(spark, sf, "nation"),
    )


QUERIES["supplier_bal_nation"] = supplier_bal_nation
ORACLE["supplier_bal_nation"] = """WITH base AS (
  SELECT n.n_name,
         CAST(floor(s.s_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey),
ag AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(bal_c) AS BIGINT) AS sum_bal_c,
         CAST(min(bal_c) AS BIGINT) AS min_bal_c,
         CAST(max(bal_c) AS BIGINT) AS max_bal_c,
         CAST(sum(CASE WHEN bal_c < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_negative
       FROM base GROUP BY n_name)
SELECT n_name, n_suppliers, sum_bal_c, min_bal_c, max_bal_c,
       n_negative,
       round(CAST(sum_bal_c AS DOUBLE) / CAST(n_suppliers AS DOUBLE), 6)
         AS mean_bal_c
FROM ag"""


def priority_segment_mix_q(spark: SparkSession, sf: str) -> DataFrame:
    return priority_segment_mix(
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "customer"),
    )


QUERIES["priority_segment_mix"] = priority_segment_mix_q
ORACLE["priority_segment_mix"] = """WITH j AS (
  SELECT c.c_mktsegment, o.o_orderpriority
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
cell AS (SELECT c_mktsegment, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders
         FROM j GROUP BY 1, 2),
m AS (SELECT cell.*,
        CAST(sum(n_orders) OVER (PARTITION BY c_mktsegment)
          AS BIGINT) AS seg_total,
        CAST(sum(n_orders) OVER (PARTITION BY o_orderpriority)
          AS BIGINT) AS pri_total,
        CAST(sum(n_orders) OVER () AS BIGINT) AS corpus_total
      FROM cell)
SELECT c_mktsegment, o_orderpriority, n_orders, seg_total, pri_total,
       corpus_total,
       round(CAST(n_orders AS DOUBLE) * CAST(corpus_total AS DOUBLE)
         / (CAST(seg_total AS DOUBLE) * CAST(pri_total AS DOUBLE)), 6)
         AS lift
FROM m"""


def lines_per_order(spark: SparkSession, sf: str) -> DataFrame:
    return lines_per_order_hist(load_table(spark, sf, "lineitem"))


QUERIES["lines_per_order"] = lines_per_order
ORACLE["lines_per_order"] = """WITH po AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY l_orderkey),
bk AS (SELECT CAST(length(bin(n_lines)) - 1 AS INTEGER) AS bucket,
         n_lines
       FROM po),
hist AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(n_lines) AS BIGINT) AS sum_lines,
           CAST(max(n_lines) AS BIGINT) AS bucket_max
         FROM bk GROUP BY bucket),
m AS (SELECT hist.*, CAST(max(bucket_max) OVER () AS BIGINT)
        AS max_lines,
        CAST(sum(sum_lines) OVER () AS BIGINT) AS total_lines
      FROM hist)
SELECT bucket, CAST(1 << bucket AS BIGINT) AS lo_lines, n_orders,
       sum_lines, max_lines,
       round(CAST(max_lines AS DOUBLE) / CAST(total_lines AS DOUBLE), 6)
         AS top_key_share
FROM m"""


def retail_markup(spark: SparkSession, sf: str) -> DataFrame:
    return retail_markup_by_class(
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "part"),
    )


QUERIES["retail_markup"] = retail_markup
ORACLE["retail_markup"] = f"""WITH cls AS (
  SELECT p_partkey, split_part(p_type, ' ', 1) AS part_class,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS retail_c
  FROM part),
j AS (SELECT c.part_class, {_pc} AS sold_c, c.retail_c
      FROM lineitem li JOIN cls c ON li.l_partkey = c.p_partkey),
ag AS (SELECT part_class, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(sold_c) AS BIGINT) AS sum_sold_c,
         CAST(sum(retail_c) AS BIGINT) AS sum_retail_c
       FROM j GROUP BY part_class)
SELECT part_class, n_lines, sum_sold_c, sum_retail_c,
       CASE WHEN sum_retail_c > 0 THEN round(CAST(sum_sold_c
         AS DOUBLE) / CAST(sum_retail_c AS DOUBLE), 6) END
         AS street_to_list
FROM ag"""


def orders_dow_mix_q(spark: SparkSession, sf: str) -> DataFrame:
    return orders_dow_mix(load_table(spark, sf, "orders"))


QUERIES["orders_dow_mix"] = orders_dow_mix_q
ORACLE["orders_dow_mix"] = """WITH ag AS (
  SELECT CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS sum_total_c
  FROM orders GROUP BY 1),
tot AS (SELECT ag.*, CAST(sum(n_orders) OVER () AS BIGINT)
          AS all_orders FROM ag)
SELECT dow, n_orders, sum_total_c,
       round(CAST(n_orders AS DOUBLE) / CAST(all_orders AS DOUBLE), 6)
         AS order_share
FROM tot"""


def value_speed_deciles(spark: SparkSession, sf: str) -> DataFrame:
    return value_vs_speed_deciles(
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
    )


QUERIES["value_speed_deciles"] = value_speed_deciles
ORACLE["value_speed_deciles"] = """WITH ls AS (
  SELECT l_orderkey, max(l_shipdate) AS last_shipdate
  FROM lineitem GROUP BY l_orderkey),
j AS (SELECT o.o_orderkey,
        CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS total_c,
        CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
          CAST(ls.last_shipdate AS DATE)) AS BIGINT) AS days
      FROM orders o JOIN ls ON o.o_orderkey = ls.l_orderkey),
ranked AS (SELECT total_c, days,
             row_number() OVER (ORDER BY total_c ASC, o_orderkey ASC)
               AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
           FROM j),
bk AS (SELECT CAST(((rk - 1) * 10) // n AS INTEGER) AS decile,
         total_c, days
       FROM ranked),
ag AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(total_c) AS BIGINT) AS sum_total_c,
         CAST(sum(days) AS BIGINT) AS sum_days,
         CAST(min(days) AS BIGINT) AS min_days,
         CAST(max(days) AS BIGINT) AS max_days
       FROM bk GROUP BY decile)
SELECT decile, n_orders, sum_total_c, sum_days, min_days, max_days,
       round(CAST(sum_days AS DOUBLE) / CAST(n_orders AS DOUBLE), 6)
         AS mean_days
FROM ag"""


def orders_per_cust_region(spark: SparkSession, sf: str) -> DataFrame:
    return orders_per_customer_by_region(
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "customer"),
        load_table(spark, sf, "nation"),
        load_table(spark, sf, "region"),
    )


QUERIES["orders_per_cust_region"] = orders_per_cust_region
ORACLE["orders_per_cust_region"] = """WITH nat AS (
  SELECT n.n_nationkey, r.r_name
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
cust AS (SELECT c.c_custkey, nat.r_name
         FROM customer c JOIN nat ON c.c_nationkey = nat.n_nationkey),
pc AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
       FROM orders GROUP BY o_custkey),
j AS (SELECT cust.r_name, pc.n_orders
      FROM pc JOIN cust ON pc.o_custkey = cust.c_custkey),
ag AS (SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(n_orders) AS BIGINT) AS n_orders
       FROM j GROUP BY r_name)
SELECT r_name, n_customers, n_orders,
       round(CAST(n_orders AS DOUBLE) / CAST(n_customers AS DOUBLE), 6)
         AS orders_per_customer
FROM ag"""


def discount_hist_q(spark: SparkSession, sf: str) -> DataFrame:
    return discount_hist(load_table(spark, sf, "lineitem"))


QUERIES["discount_hist"] = discount_hist_q
ORACLE["discount_hist"] = f"""WITH base AS (
  SELECT {_dh} AS disc_h, {_pc} AS price_c FROM lineitem),
ag AS (SELECT disc_h, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(price_c) AS BIGINT) AS base_c,
         CAST(sum(price_c * disc_h) AS BIGINT) AS discount_ch
       FROM base GROUP BY disc_h),
tot AS (SELECT ag.*, CAST(sum(discount_ch) OVER () AS BIGINT)
          AS total_discount_ch FROM ag)
SELECT disc_h, n_lines, base_c, discount_ch,
       CASE WHEN total_discount_ch > 0 THEN
         round(CAST(discount_ch AS DOUBLE)
           / CAST(total_discount_ch AS DOUBLE), 6) END
         AS discount_share
FROM tot"""


def order_backlog_1d(spark: SparkSession, sf: str) -> DataFrame:
    return order_backlog_daily(
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
    )


QUERIES["order_backlog_1d"] = order_backlog_1d
ORACLE["order_backlog_1d"] = """WITH ls AS (
  SELECT l_orderkey, max(l_shipdate) AS last_shipdate
  FROM lineitem GROUP BY l_orderkey),
j AS (SELECT o.o_orderdate, ls.last_shipdate
      FROM orders o JOIN ls ON o.o_orderkey = ls.l_orderkey),
starts AS (SELECT date_trunc('day', o_orderdate) AS day_ts,
             CAST(count(*) AS BIGINT) AS n_placed
           FROM j GROUP BY 1),
ends AS (SELECT date_trunc('day', last_shipdate) AS day_ts,
           CAST(count(*) AS BIGINT) AS n_shipped
         FROM j GROUP BY 1),
m AS (SELECT COALESCE(s.day_ts, e.day_ts) AS day_ts,
        CAST(COALESCE(s.n_placed, 0) AS BIGINT) AS n_placed,
        CAST(COALESCE(e.n_shipped, 0) AS BIGINT) AS n_shipped
      FROM starts s FULL OUTER JOIN ends e ON s.day_ts = e.day_ts)
SELECT day_ts, n_placed, n_shipped,
       CAST(sum(n_placed - n_shipped) OVER (ORDER BY day_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS backlog
FROM m"""


def priority_mix_1mo(spark: SparkSession, sf: str) -> DataFrame:
    return priority_mix_monthly(load_table(spark, sf, "orders"))


QUERIES["priority_mix_1mo"] = priority_mix_1mo
ORACLE["priority_mix_1mo"] = """WITH cell AS (
  SELECT date_trunc('month', o_orderdate) AS month_ts,
         o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1, 2),
m AS (SELECT cell.*, CAST(sum(n_orders) OVER (PARTITION BY month_ts)
        AS BIGINT) AS month_orders FROM cell),
lg AS (SELECT month_ts, o_orderpriority, n_orders, month_orders,
         CAST(CASE WHEN lag(month_ts) OVER w
           = month_ts - INTERVAL 1 MONTH
           THEN lag(n_orders) OVER w END AS BIGINT) AS prev_n,
         CAST(CASE WHEN lag(month_ts) OVER w
           = month_ts - INTERVAL 1 MONTH
           THEN lag(month_orders) OVER w END AS BIGINT)
           AS prev_month_orders
       FROM m WINDOW w AS (PARTITION BY o_orderpriority
                           ORDER BY month_ts))
SELECT month_ts, o_orderpriority, n_orders, month_orders, prev_n,
       prev_month_orders,
       round(CAST(n_orders AS DOUBLE) / CAST(month_orders AS DOUBLE),
         6) AS share,
       CASE WHEN prev_month_orders > 0 THEN
         round(CAST(n_orders AS DOUBLE) / CAST(month_orders AS DOUBLE)
           - CAST(prev_n AS DOUBLE)
           / CAST(prev_month_orders AS DOUBLE), 6) END AS drift
FROM lg"""


def tpch_q4_late(spark: SparkSession, sf: str) -> DataFrame:
    return late_order_share(
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
    )


QUERIES["tpch_q4_late"] = tpch_q4_late
# The Q4 EXISTS semi-join and the Q21 EXISTS/NOT-EXISTS blame shape
# (both re-expressed as aggregations in the engine; the oracle states Q4
# as the literal correlated EXISTS to keep the check independent).
ORACLE["tpch_q4_late"] = """WITH base AS (
  SELECT o_orderpriority, o_orderkey, o_orderdate FROM orders),
late AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
  FROM base o
  WHERE EXISTS (SELECT 1 FROM lineitem li
                WHERE li.l_orderkey = o.o_orderkey
                  AND date_diff('day', CAST(o.o_orderdate AS DATE),
                        CAST(li.l_shipdate AS DATE)) > 20)
  GROUP BY o_orderpriority),
alln AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
         FROM base GROUP BY o_orderpriority)
SELECT a.o_orderpriority, a.n_orders,
       CAST(coalesce(l.n_late_orders, 0) AS BIGINT) AS n_late_orders,
       round(CAST(coalesce(l.n_late_orders, 0) AS DOUBLE)
         / CAST(a.n_orders AS DOUBLE), 6) AS late_share
FROM alln a LEFT JOIN late l USING (o_orderpriority)"""


def tpch_q21_waiting(spark: SparkSession, sf: str) -> DataFrame:
    return sole_late_suppliers(
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "supplier"),
        load_table(spark, sf, "nation"),
    )


QUERIES["tpch_q21_waiting"] = tpch_q21_waiting
ORACLE["tpch_q21_waiting"] = """WITH f AS (
  SELECT li.l_orderkey, li.l_suppkey,
         CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                CAST(li.l_shipdate AS DATE)) > 20 THEN 1 ELSE 0 END
           AS late
  FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey),
ps AS (SELECT l_orderkey, l_suppkey, max(late) AS late
       FROM f GROUP BY l_orderkey, l_suppkey),
po AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_supps,
         CAST(sum(late) AS BIGINT) AS n_late_supps
       FROM ps GROUP BY l_orderkey),
blame AS (SELECT ps.l_orderkey, ps.l_suppkey
          FROM ps JOIN po USING (l_orderkey)
          WHERE ps.late = 1 AND po.n_supps >= 2
            AND po.n_late_supps = 1),
sn AS (SELECT s.s_suppkey, n.n_name AS supp_nation
       FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey)
SELECT sn.supp_nation, CAST(count(*) AS BIGINT) AS numwait,
       CAST(count(DISTINCT b.l_suppkey) AS BIGINT) AS n_suppliers
FROM blame b JOIN sn ON b.l_suppkey = sn.s_suppkey
GROUP BY sn.supp_nation"""


def revenue_pacing_1mo(spark: SparkSession, sf: str) -> DataFrame:
    return revenue_pacing_monthly(load_table(spark, sf, "orders"))


QUERIES["revenue_pacing_1mo"] = revenue_pacing_1mo
ORACLE["revenue_pacing_1mo"] = """WITH daily AS (
  SELECT date_trunc('month', o_orderdate) AS month_ts,
         date_trunc('day', o_orderdate) AS day_ts,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS day_cents
  FROM orders GROUP BY 1, 2),
cum AS (SELECT *,
          CAST(sum(day_cents) OVER (PARTITION BY month_ts
            ORDER BY day_ts ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS BIGINT) AS mtd_cents,
          CAST(sum(day_cents) OVER (PARTITION BY month_ts)
            AS BIGINT) AS month_cents
        FROM daily)
SELECT month_ts, day_ts, day_cents, mtd_cents, month_cents,
       round(CAST(mtd_cents AS DOUBLE)
         / CAST(month_cents AS DOUBLE), 6) AS pace
FROM cum"""


def order_sla_1mo(spark: SparkSession, sf: str) -> DataFrame:
    return order_sla_monthly(
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
    )


QUERIES["order_sla_1mo"] = order_sla_1mo
ORACLE["order_sla_1mo"] = """WITH ls AS (
  SELECT l_orderkey, max(l_shipdate) AS last_ship
  FROM lineitem GROUP BY l_orderkey),
j AS (SELECT date_trunc('month', o.o_orderdate) AS month_ts,
        CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
          CAST(ls.last_ship AS DATE)) AS BIGINT) AS days
      FROM orders o JOIN ls ON o.o_orderkey = ls.l_orderkey),
ag AS (SELECT month_ts, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CASE WHEN days <= 20 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_within_sla,
         CAST(max(days) AS BIGINT) AS worst_days
       FROM j GROUP BY month_ts)
SELECT month_ts, n_orders, n_within_sla,
       round(CAST(n_within_sla AS DOUBLE)
         / CAST(n_orders AS DOUBLE), 6) AS sla_share,
       worst_days
FROM ag"""


def rolling_median_rev_7d(spark: SparkSession, sf: str) -> DataFrame:
    return rolling_median_revenue(load_table(spark, sf, "orders"))


QUERIES["rolling_median_rev_7d"] = rolling_median_rev_7d
ORACLE["rolling_median_rev_7d"] = """WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day_ts,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS cents
  FROM orders GROUP BY 1),
pairs AS (SELECT a.day_ts AS end_ts, b.cents AS b_cents,
            b.day_ts AS b_ts
          FROM daily a JOIN daily b
            ON b.day_ts <= a.day_ts
           AND b.day_ts > a.day_ts - INTERVAL 7 DAY),
ranked AS (SELECT end_ts, b_cents,
             row_number() OVER (PARTITION BY end_ts
               ORDER BY b_cents, b_ts) AS rk,
             CAST(count(*) OVER (PARTITION BY end_ts) AS BIGINT)
               AS n_days
           FROM pairs)
SELECT end_ts AS day_ts, n_days, b_cents AS med_cents
FROM ranked WHERE rk = (n_days + 1) // 2"""


def qty_discount_curve_q(spark: SparkSession, sf: str) -> DataFrame:
    return qty_discount_curve(load_table(spark, sf, "lineitem"))


QUERIES["qty_discount_curve"] = qty_discount_curve_q
# The volume-discount curve and the integer-exact per-customer
# spend-trend-sign census.
ORACLE["qty_discount_curve"] = """WITH base AS (
  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_h,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
           * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
           AS rev_ch
  FROM lineitem),
ag AS (SELECT qty, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(disc_h) AS BIGINT) AS sum_disc_h,
         CAST(sum(rev_ch) AS BIGINT) AS revenue_ch
       FROM base GROUP BY qty)
SELECT qty, n_lines,
       round(CAST(sum_disc_h AS DOUBLE)
         / CAST(n_lines AS DOUBLE), 6) AS mean_disc_h,
       revenue_ch
FROM ag"""


def cust_trend_sign_q(spark: SparkSession, sf: str) -> DataFrame:
    return cust_trend_sign(load_table(spark, sf, "orders"))


QUERIES["cust_trend_sign"] = cust_trend_sign_q
ORACLE["cust_trend_sign"] = """WITH seq AS (
  SELECT o_custkey,
         CAST(row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS x,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
  FROM orders),
per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * y) AS BIGINT) AS sxy
        FROM seq GROUP BY o_custkey HAVING count(*) >= 3),
signed AS (SELECT CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1
             WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INTEGER)
             AS trend_sign
           FROM per),
hist AS (SELECT trend_sign, CAST(count(*) AS BIGINT) AS n_customers
         FROM signed GROUP BY trend_sign)
SELECT trend_sign, n_customers,
       round(CAST(n_customers AS DOUBLE)
         / CAST(sum(n_customers) OVER () AS DOUBLE), 6) AS share
FROM hist"""


def supplier_breadth(spark: SparkSession, sf: str) -> DataFrame:
    return supplier_breadth_hist(load_table(spark, sf, "lineitem"))


QUERIES["supplier_breadth"] = supplier_breadth
ORACLE["supplier_breadth"] = """WITH edges AS (
  SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
per AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_parts
        FROM edges GROUP BY l_suppkey),
hist AS (SELECT CAST(length(bin(n_parts)) - 1 AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(n_parts) AS BIGINT) AS sum_parts
         FROM per GROUP BY 1)
SELECT bucket, CAST(1 << bucket AS BIGINT) AS lo_parts, n_suppliers,
       sum_parts,
       round(CAST(n_suppliers AS DOUBLE)
         / CAST(sum(n_suppliers) OVER () AS DOUBLE), 6) AS share
FROM hist"""


def brand_price_spread_q(spark: SparkSession, sf: str) -> DataFrame:
    return brand_price_spread(load_table(spark, sf, "part"))


QUERIES["brand_price_spread"] = brand_price_spread_q
ORACLE["brand_price_spread"] = """WITH base AS (
  SELECT p_brand,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents,
         p_partkey
  FROM part),
ranked AS (SELECT p_brand, cents,
             row_number() OVER (PARTITION BY p_brand
               ORDER BY cents, p_partkey) AS rk,
             CAST(count(*) OVER (PARTITION BY p_brand) AS BIGINT)
               AS n_parts
           FROM base),
med AS (SELECT p_brand, cents AS med_cents FROM ranked
        WHERE rk = (n_parts + 1) // 2),
ag AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
         CAST(min(cents) AS BIGINT) AS min_cents,
         CAST(max(cents) AS BIGINT) AS max_cents
       FROM base GROUP BY p_brand)
SELECT a.p_brand, a.n_parts, a.min_cents, m.med_cents, a.max_cents
FROM ag a JOIN med m ON a.p_brand = m.p_brand"""


def revenue_seasonal_idx(spark: SparkSession, sf: str) -> DataFrame:
    return revenue_seasonal_index(load_table(spark, sf, "orders"))


QUERIES["revenue_seasonal_idx"] = revenue_seasonal_idx
ORACLE["revenue_seasonal_idx"] = """WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month_ts,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS cents
  FROM orders GROUP BY 1),
moy AS (SELECT CAST(extract(month FROM month_ts) AS INTEGER)
            AS month_of_year,
          CAST(count(*) AS BIGINT) AS n_months,
          CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM monthly GROUP BY 1),
tot AS (SELECT *, CAST(sum(sum_cents) OVER () AS BIGINT)
            AS total_cents,
          CAST(sum(n_months) OVER () AS BIGINT) AS total_months
        FROM moy)
SELECT month_of_year, n_months, sum_cents,
       round((CAST(sum_cents AS DOUBLE) / CAST(n_months AS DOUBLE))
         / (CAST(total_cents AS DOUBLE)
         / CAST(total_months AS DOUBLE)), 6) AS seasonal_idx
FROM tot"""


def region_rollup_subtotals(spark: SparkSession, sf: str) -> DataFrame:
    return region_nation_rollup(
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "customer"),
        load_table(spark, sf, "nation"),
        load_table(spark, sf, "region"),
    )


QUERIES["region_rollup_subtotals"] = region_rollup_subtotals
ORACLE["region_rollup_subtotals"] = """WITH dim AS (
  SELECT c.c_custkey, n.n_name AS nation_name, r.r_name AS region_name
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey),
j AS (SELECT d.region_name, d.nation_name,
        CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey),
rolled AS (
  SELECT region_name, nation_name,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(cents) AS BIGINT) AS sum_cents,
         CAST(GROUPING(region_name) * 2 + GROUPING(nation_name)
           AS INTEGER) AS level
  FROM j GROUP BY ROLLUP (region_name, nation_name))
SELECT COALESCE(region_name, 'ALL') AS region_name,
       COALESCE(nation_name, 'ALL') AS nation_name,
       level, n_orders, sum_cents
FROM rolled"""


def benford_value_q(spark: SparkSession, sf: str) -> DataFrame:
    return benford_order_value(load_table(spark, sf, "orders"))


QUERIES["benford_order_value"] = benford_value_q

# The forensic-money screens. The Benford expectations are the SAME
# repr-exact Python literals the Spark expression embeds, so the
# shared-float discipline holds.
_bf_cases = " ".join(
    f"WHEN digit = {d} THEN {_math.log10(1 + 1 / d)!r}"
    for d in range(1, 10)
)

ORACLE["benford_order_value"] = f"""WITH base AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
           AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders),
ag AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_orders
       FROM base WHERE digit >= 1 GROUP BY digit)
SELECT digit, n_orders,
       round(CAST(n_orders AS DOUBLE)
         / CAST(sum(n_orders) OVER () AS DOUBLE), 6) AS share,
       round(CASE {_bf_cases} END, 6) AS benford_share,
       round(CAST(n_orders AS DOUBLE)
         / CAST(sum(n_orders) OVER () AS DOUBLE)
         - CASE {_bf_cases} END, 6) AS excess
FROM ag"""


def round_number_audit_q(spark: SparkSession, sf: str) -> DataFrame:
    return round_number_audit(load_table(spark, sf, "orders"))


QUERIES["round_number_audit"] = round_number_audit_q
ORACLE["round_number_audit"] = """WITH base AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
ag AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_round_dollar,
         CAST(sum(CASE WHEN cents % 1000 = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_round_ten,
         CAST(sum(CASE WHEN cents % 10000 = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_round_hundred
       FROM base)
SELECT n_orders, n_round_dollar, n_round_ten, n_round_hundred,
       round(CAST(n_round_dollar AS DOUBLE)
         / CAST(n_orders AS DOUBLE), 6) AS dollar_share,
       round(CAST(n_round_ten AS DOUBLE)
         / CAST(n_orders AS DOUBLE), 6) AS ten_share
FROM ag"""


def oracle() -> dict[str, str]:
    return ORACLE
