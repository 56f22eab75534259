"""Analytics surface, part 2: the remaining TPC-H-shaped queries the
testdata schema supports (adapted where the driver's slimmed schema lacks
columns — no ``partsupp``, ``l_shipmode``, ``l_commitdate``, ``c_phone``)
plus the scalar-function families not yet covered (maps, pivot,
percentiles, conditional/null handling, bitwise, generators).

Same contract as :mod:`analytics`: each query has a DuckDB oracle with
identical column names and deterministic values (exact-decimal sums cast
to double, totally-ordered LIMITs). Scale notes on each docstring assume a
1000-executor cluster over ~100 TB: dimension joins broadcast, fact-fact
joins shuffle once on their key, aggregates rely on map-side partials.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd  # noqa: F401 — resolves pandas-UDF type hints
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from near_event_streams_spark.plans._common import (
    _t,
    dec,
    dsum,
    half_up6_duck,
    half_up6_spark,
    half_up_signed_duck,
    half_up_signed_spark,
    ts_us,
)

# --------------------------------------------------------------------------
# TPC-H Q6 — forecast revenue change: pure scan+filter+scalar agg.
# Scale: every predicate and the 3-column projection push down to parquet;
# the aggregate is a single exact-decimal partial-sum tree, no shuffle of
# data rows at all (just partial aggregates).
# --------------------------------------------------------------------------


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24.0)
        )
        .agg(dsum(dec("l_extendedprice") * dec("l_discount", 4, 2), "revenue"))
    )


Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24.0
"""

# --------------------------------------------------------------------------
# TPC-H Q8 — national market share (adapted: ECONOMY parts sold into
# AMERICA; share of NATION_1 suppliers by order year).
# Scale: part/nation/region/supplier broadcast; orders⋈lineitem is the one
# big shuffle; the share division happens on a handful of year rows.
# --------------------------------------------------------------------------


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    )
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    nation = _t(spark, sf_dir, "nation")
    n_cust = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("cn_key"),
            F.col("n_regionkey").alias("cn_region"),
        )
    )
    n_supp = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    region = F.broadcast(
        _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    )
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    vol = dec("l_extendedprice") * dec(F.lit(1.0) - F.col("l_discount"), 4, 2)
    target = F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(
        F.lit(0).cast("decimal(16,4)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n_cust, cust.c_nationkey == F.col("cn_key"))
        .join(region, F.col("cn_region") == region.r_regionkey)
        .join(n_supp, supplier.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(target).cast("double").alias("_num"),
            F.sum(vol).cast("double").alias("_den"),
        )
        .select(
            "o_year",
            (F.col("_num") / F.col("_den")).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


Q8_SQL = """
WITH base AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(1.0 - l_discount AS DECIMAL(4,2)) AS vol,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol
                     ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
         / CAST(SUM(vol) AS DOUBLE) AS mkt_share
FROM base
GROUP BY o_year
ORDER BY o_year
"""

# --------------------------------------------------------------------------
# TPC-H Q9 — product-type profit (adapted: no partsupp ⇒ profit is
# discounted revenue of '%widget%' parts, by supplier nation × order year).
# --------------------------------------------------------------------------


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    )
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    amount = dec("l_extendedprice") * dec(F.lit(1.0) - F.col("l_discount"), 4, 2)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(amount, "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY 1, 2 DESC
"""

# --------------------------------------------------------------------------
# TPC-H Q10 — returned-item reporting: top-20 customers by refund-quarter
# revenue. Scale: orders date-filter pushes down; the agg keys are customer
# attributes (bounded by customer cardinality); top-20 via TakeOrdered.
# --------------------------------------------------------------------------


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = dec("l_extendedprice") * dec(F.lit(1.0) - F.col("l_discount"), 4, 2)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

# --------------------------------------------------------------------------
# TPC-H Q12 — priority line counts (adapted: no l_shipmode ⇒ grouped by
# l_returnflag for 1997 shipments). Conditional aggregation.
# --------------------------------------------------------------------------


def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

# --------------------------------------------------------------------------
# TPC-H Q13 — customer order-count distribution: outer join + two-level agg.
# Scale: first agg keys on custkey (high cardinality, map-side partials);
# second agg input is one row per customer — tiny.
# --------------------------------------------------------------------------


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

# --------------------------------------------------------------------------
# TPC-H Q14 — promotion effect: conditional share of one month's revenue.
# --------------------------------------------------------------------------


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = F.broadcast(_t(spark, sf_dir, "part"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    vol = dec("l_extendedprice") * dec(F.lit(1.0) - F.col("l_discount"), 4, 2)
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(
        F.lit(0).cast("decimal(16,4)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo).cast("double").alias("_num"),
            F.sum(vol).cast("double").alias("_den"),
        )
        .select(
            (F.lit(100.0) * F.col("_num") / F.col("_den")).alias(
                "promo_revenue_pct"
            )
        )
    )


Q14_SQL = """
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                  * CAST(1.0 - l_discount AS DECIMAL(4,2))
                             ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
         AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate <  TIMESTAMP '1997-10-01'
"""

# --------------------------------------------------------------------------
# TPC-H Q18 — large-volume customers: HAVING on a fact-side agg feeding a
# join. Scale: the qty agg shuffles lineitem once on orderkey; the
# surviving order set is small, so the orders/customer joins are cheap.
# --------------------------------------------------------------------------


def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("_qty"))
        .filter(F.col("_qty") > 250)
        .select("l_orderkey", F.col("_qty").cast("double").alias("sum_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
) big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""

# --------------------------------------------------------------------------
# TPC-H Q19 — bracketed revenue: disjunction of conjunctive brackets over a
# part join. Scale: the equi-key (partkey) drives the join; the OR-brackets
# evaluate post-join (Catalyst also pushes the brand/size disjunction to
# the part scan).
# --------------------------------------------------------------------------


def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = F.broadcast(_t(spark, sf_dir, "part"))
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    bracket = (
        (
            (F.col("p_brand") == "Brand#11")
            & q.between(5.0, 15.0)
            & sz.between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & q.between(10.0, 20.0)
            & sz.between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & q.between(20.0, 30.0)
            & sz.between(1, 30)
        )
    )
    revenue = dec("l_extendedprice") * dec(F.lit(1.0) - F.col("l_discount"), 4, 2)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(bracket)
        .agg(dsum(revenue, "revenue"))
    )


Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 5.0 AND 15.0
       AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#12' AND l_quantity BETWEEN 10.0 AND 20.0
       AND p_size BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#13' AND l_quantity BETWEEN 20.0 AND 30.0
       AND p_size BETWEEN 1 AND 30)
"""

# --------------------------------------------------------------------------
# TPC-H Q22 — idle wealthy customers (adapted: no c_phone ⇒ the "wealthy"
# bar is the global positive-balance average): scalar subquery + anti join.
# Scale: the scalar aggregate broadcasts as a 1-row cross join; the anti
# join shuffles on custkey.
# --------------------------------------------------------------------------


def q22_idle_wealthy(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(dec("c_acctbal")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("_bar")
    )
    return (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("_bar"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(dec("c_acctbal"), "totacctbal"),
        )
        .orderBy("c_nationkey")
    )


Q22_SQL = """
SELECT c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE)
    FROM customer WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
ORDER BY c_nationkey
"""

# --------------------------------------------------------------------------
# TPC-H Q15 — top supplier(s) by quarter revenue: agg + scalar-max filter.
# Scale: the revenue agg shuffles lineitem once on suppkey (bounded by
# supplier cardinality); the max is a 1-row broadcast cross join.
# --------------------------------------------------------------------------


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    supplier = _t(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            dec("l_extendedprice") * dec(F.lit(1.0) - F.col("l_discount"), 4, 2)
        ).alias("_rev")
    )
    top = rev.agg(F.max("_rev").alias("_max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("_rev") == F.col("_max_rev"))
        .join(supplier, F.col("supplier_no") == supplier.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s_suppkey
"""

# --------------------------------------------------------------------------
# TPC-H Q17 — small-quantity-order revenue: correlated per-part average ⇒
# decorrelated per-part agg + join (what Catalyst produces for the
# subquery form). Scale: both sides shuffle on partkey only.
# --------------------------------------------------------------------------


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.2)
            * F.sum(dec("l_quantity")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("qty_bar")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_bar"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#11'
  AND l_quantity < (
    SELECT 0.2 * CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE)
    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
  )
"""

# --------------------------------------------------------------------------
# Window distribution family: percent_rank / cume_dist / first / last /
# nth_value over bounded frames.
# --------------------------------------------------------------------------


def window_distribution_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer")
    wo = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wall = wo.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.round(F.percent_rank().over(wo), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(wo), 9).alias("cume"),
        F.first("c_custkey").over(wall).alias("poorest_cust"),
        F.last("c_custkey").over(wall).alias("richest_cust"),
        F.nth_value("c_custkey", 2).over(wall).alias("second_cust"),
    )


WINDOW_DIST_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal,
  ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
  ROUND(CUME_DIST() OVER w, 9) AS cume,
  FIRST_VALUE(c_custkey) OVER wf AS poorest_cust,
  LAST_VALUE(c_custkey) OVER wf AS richest_cust,
  NTH_VALUE(c_custkey, 2) OVER wf AS second_cust
FROM customer
WINDOW w  AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey),
       wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

# --------------------------------------------------------------------------
# UNION (distinct) — completes the set-op family (UNION ALL lives in
# parity_event_routing, INTERSECT/EXCEPT in analytics.py).
# --------------------------------------------------------------------------


def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("custkey")
    )
    return urgent.union(high).distinct()


SET_UNION_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
UNION
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '2-HIGH'
"""

# --------------------------------------------------------------------------
# Map functions (SURVEY §2.2 map fns): create_map / element_at / map_keys /
# map_values / map_filter / map_concat, with scalar outputs the oracle can
# reproduce from the underlying columns.
# --------------------------------------------------------------------------


def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("priority"),
        F.col("o_orderpriority"),
        F.lit("status"),
        F.col("o_orderstatus"),
    )
    m2 = F.map_concat(
        m, F.create_map(F.lit("key"), F.col("o_orderkey").cast("string"))
    )
    return orders.select(
        "o_orderkey",
        F.element_at(m, "priority").alias("m_priority"),
        F.size(m).alias("m_size"),
        F.array_join(F.map_keys(m), ",").alias("m_keys"),
        F.array_join(F.map_values(m), ",").alias("m_values"),
        F.size(F.map_filter(m, lambda _, v: v != F.lit("F"))).alias(
            "n_not_f"
        ),
        F.size(m2).alias("m_concat_size"),
    )


MAP_FUNCS_SQL = """
SELECT o_orderkey,
       o_orderpriority AS m_priority,
       2 AS m_size,
       'priority,status' AS m_keys,
       o_orderpriority || ',' || o_orderstatus AS m_values,
       CAST((o_orderpriority <> 'F') AS INT)
         + CAST((o_orderstatus <> 'F') AS INT) AS n_not_f,
       3 AS m_concat_size
FROM orders
"""

# --------------------------------------------------------------------------
# Pivot: groupBy().pivot() — wide conditional aggregation. The oracle is
# the CASE-WHEN expansion (what Spark's pivot compiles to internally).
# --------------------------------------------------------------------------


def pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(dec("o_totalprice")).cast("double"))
    )
    return out.select(
        "o_orderpriority",
        F.col("F").alias("rev_f"),
        F.col("O").alias("rev_o"),
        F.col("P").alias("rev_p"),
    ).orderBy("o_orderpriority")


PIVOT_SQL = """
SELECT o_orderpriority,
  CAST(SUM(CASE WHEN o_orderstatus = 'F'
                THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE)
    AS rev_f,
  CAST(SUM(CASE WHEN o_orderstatus = 'O'
                THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE)
    AS rev_o,
  CAST(SUM(CASE WHEN o_orderstatus = 'P'
                THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE)
    AS rev_p
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# --------------------------------------------------------------------------
# Exact percentiles (linear interpolation — Spark `percentile` and DuckDB
# `quantile_cont` share the (n-1)*p rank convention; outputs rounded to
# 6 dp to absorb any last-ulp interpolation difference).
# --------------------------------------------------------------------------


def percentile_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pct = F.percentile("value", F.lit([0.25, 0.5, 0.9]))
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("_p"), F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.round(F.element_at("_p", 1), 6).alias("p25"),
            F.round(F.element_at("_p", 2), 6).alias("p50"),
            F.round(F.element_at("_p", 3), 6).alias("p90"),
            "n",
        )
        .orderBy("event_type")
    )


PERCENTILE_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.5),  6) AS p50,
       ROUND(quantile_cont(value, 0.9),  6) AS p90,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# --------------------------------------------------------------------------
# Conditional / null-handling family: coalesce, nullif, least, greatest,
# multi-branch CASE, null predicates.
# --------------------------------------------------------------------------


def conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return cust.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")),
            F.lit("REDACTED"),
        ).alias("segment_masked"),
        F.greatest(bal, F.lit(0.0)).alias("bal_floor0"),
        F.least(bal, F.lit(5000.0)).alias("bal_cap5k"),
        F.when(bal < 0.0, F.lit("debtor"))
        .when(bal < 5000.0, F.lit("standard"))
        .otherwise(F.lit("premium"))
        .alias("tier"),
        F.nullif(bal, F.lit(0.0)).isNull().alias("zero_balance"),
        F.isnotnull(bal).alias("has_balance"),
    )


CONDITIONAL_SQL = """
SELECT c_custkey,
       COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'REDACTED')
         AS segment_masked,
       GREATEST(c_acctbal, 0.0) AS bal_floor0,
       LEAST(c_acctbal, 5000.0) AS bal_cap5k,
       CASE WHEN c_acctbal < 0.0 THEN 'debtor'
            WHEN c_acctbal < 5000.0 THEN 'standard'
            ELSE 'premium' END AS tier,
       NULLIF(c_acctbal, 0.0) IS NULL AS zero_balance,
       c_acctbal IS NOT NULL AS has_balance
FROM customer
"""

# --------------------------------------------------------------------------
# Bitwise family: and/or/xor/shifts/popcount over integer keys.
# --------------------------------------------------------------------------


def bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    c = F.col("o_custkey")
    return orders.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("key_and_255"),
        k.bitwiseOR(F.lit(4096)).alias("key_or_4096"),
        k.bitwiseXOR(c).alias("key_xor_cust"),
        F.shiftleft(k, 2).alias("key_shl2"),
        F.shiftright(k, 3).alias("key_shr3"),
        F.bit_count(k).alias("key_popcount"),
    )


BITWISE_SQL = """
SELECT o_orderkey,
       o_orderkey & 255 AS key_and_255,
       o_orderkey | 4096 AS key_or_4096,
       xor(o_orderkey, o_custkey) AS key_xor_cust,
       o_orderkey << 2 AS key_shl2,
       o_orderkey >> 3 AS key_shr3,
       CAST(bit_count(o_orderkey) AS INT) AS key_popcount
FROM orders
"""

# --------------------------------------------------------------------------
# Generator / table-valued: posexplode over the first 5 words of each doc
# (LATERAL VIEW in SQL terms). The oracle uses a lateral generate_series.
# --------------------------------------------------------------------------


def generator_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id", F.posexplode(F.slice(words, 1, 5)).alias("pos", "word")
    )


GENERATOR_SQL = """
SELECT doc_id, CAST(s.i AS INT) AS pos, t.w[s.i + 1] AS word
FROM (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
) t
JOIN (SELECT * FROM generate_series(0, 4) g(i)) s
  ON s.i < LEAST(len(t.w), 5)
"""

# --------------------------------------------------------------------------
# TPC-H Q21 — suppliers who kept orders waiting (adapted: "late" =
# shipped >90 days after order date; no l_commitdate/l_receiptdate).
# EXISTS + NOT EXISTS double correlation ⇒ semi + anti joins over the
# distinct (order, supplier) pair table. Scale: everything shuffles on
# l_orderkey only; the supplier/nation dimension broadcasts.
# --------------------------------------------------------------------------


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = F.broadcast(
        _t(spark, sf_dir, "supplier").join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_2"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
    )
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("late"),
    )
    pairs = lo.select("l_orderkey", "l_suppkey").distinct()
    late = lo.filter("late").select("l_orderkey", "l_suppkey").distinct()
    other_pairs = pairs.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    )
    other_late = late.select(
        F.col("l_orderkey").alias("x_k"), F.col("l_suppkey").alias("x_s")
    )
    waiting = (
        late.join(
            other_pairs,
            (late.l_orderkey == F.col("o_k"))
            & (late.l_suppkey != F.col("o_s")),
            "left_semi",
        )
        .join(
            other_late,
            (late.l_orderkey == F.col("x_k"))
            & (late.l_suppkey != F.col("x_s")),
            "left_anti",
        )
    )
    return (
        waiting.join(supplier, waiting.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


Q21_SQL = """
WITH lo AS (
  SELECT DISTINCT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lo
), late AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE late
)
SELECT s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_2'
  AND EXISTS (SELECT 1 FROM pairs p
              WHERE p.l_orderkey = l1.l_orderkey
                AND p.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


# --------------------------------------------------------------------------
# TPC-H Q16 — supplier counts per part descriptor (adapted: the distinct
# (part, supplier) relation comes from lineitem — no partsupp table).
# Scale: the distinct pair reduction shuffles lineitem once on
# (partkey, suppkey); part broadcasts; count-distinct keys are bounded
# by part-descriptor cardinality.
# --------------------------------------------------------------------------


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = F.broadcast(
        _t(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#13")
            & F.col("p_size").isin(1, 5, 9, 14, 20, 28, 36, 45)
        )
    )
    ps = li.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(part, ps.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13'
  AND p_size IN (1, 5, 9, 14, 20, 28, 36, 45)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# TPC-H Q20 — suppliers with a significant share of a part's volume
# (adapted: shipped-quantity share from lineitem replaces partsupp
# availqty). Correlated threshold ⇒ window fraction + semi join.
# --------------------------------------------------------------------------


def q20_part_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    red = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    )
    supplier = _t(spark, sf_dir, "supplier")
    per_ps = (
        li.join(red, li.l_partkey == red.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("qty_ps"))
    )
    w = Window.partitionBy("l_partkey")
    big_share = (
        per_ps.withColumn("qty_part", F.sum("qty_ps").over(w))
        .filter(
            F.col("qty_ps").cast("double")
            > F.lit(0.5) * F.col("qty_part").cast("double")
        )
        .select("l_suppkey")
    )
    return (
        supplier.join(
            big_share, supplier.s_suppkey == big_share.l_suppkey, "left_semi"
        )
        .select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_ps
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
), shares AS (
  SELECT l_suppkey,
         CAST(qty_ps AS DOUBLE) AS q,
         CAST(SUM(qty_ps) OVER (PARTITION BY l_partkey) AS DOUBLE) AS qp
  FROM per_ps
)
SELECT s_suppkey, s_name, s_nationkey
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM shares WHERE q > 0.5 * qp)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# ANSI-safe try_* family + skew-salted aggregation under the oracle gate.
# --------------------------------------------------------------------------


def try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_cast / try_divide / try_to_number: malformed input → NULL
    instead of a runtime error (the ingestion-hardening family)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        "event_id",
        F.col("event_type").try_cast("int").alias("type_as_int"),
        k.cast("string").try_cast("int").alias("k_as_int"),
        F.try_divide(F.col("value"), k - k).alias("div_by_zero"),
        F.try_divide(F.col("value"), F.lit(4.0)).alias("quarter_value"),
        F.lit("2024-13-99").try_cast("date").alias("bad_date"),
    )


TRY_FUNCS_SQL = """
SELECT event_id,
       TRY_CAST(event_type AS INT) AS type_as_int,
       TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k_as_int,
       CAST(NULL AS DOUBLE) AS div_by_zero,
       value / 4.0 AS quarter_value,
       TRY_CAST('2024-13-99' AS DATE) AS bad_date
FROM events
"""


def agg_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew operator under the correctness gate: two-phase salted
    count per event_type must equal a plain GROUP BY (integer counts
    only — float sums would differ by summation order)."""
    from near_event_streams_spark.operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events")
    return (
        salted_aggregate(
            ev, ["event_type"], count=True, salt=8, spread_col="event_id"
        )
        .select("event_type", "n")
        .orderBy("event_type")
    )


AGG_SALTED_SQL = """
SELECT event_type, COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# VariantType (Spark 4 semi-structured type) + array family part 2.
# --------------------------------------------------------------------------


def variant_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType: parse_json → variant_get typed extraction —
    the modern path for schemaless JSON columns (vs get_json_object
    string-hopping). Output columns are plain types so the DuckDB oracle
    compares directly."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.variant_get(v, "$.missing", "bigint").alias("absent"),
        F.schema_of_variant(v).alias("v_schema"),
    )


VARIANT_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       json_extract_string(props, '$.k') AS k_str,
       CAST(NULL AS BIGINT) AS absent,
       'OBJECT<k: BIGINT>' AS v_schema
FROM events
"""


def variant_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariantType THROUGH the storage layer (the ``variant_functions``
    row exercises only in-memory parse/extract): ``parse_json(props)``
    is written as a parquet VARIANT column (Spark 4's binary
    metadata/value encoding — the layout the shredded-read optimization
    targets), read back from disk, and typed-extracted with
    ``variant_get`` into a per-event-type rollup. Gates the full
    write→scan→extract roundtrip: an encoding regression, a reader that
    loses the variant logical type, or an extraction that changes
    null-semantics on re-read all flip the hash. Scratch dir is a
    per-call mkdtemp with a 3-call grace window (``_scratch_dir``) so
    held DataFrames and concurrent sessions never read a wiped path."""
    ev = _t(spark, sf_dir, "events")
    path = _scratch_dir("variant_rt", sf_dir)
    ev.select(
        "event_id", "event_type", F.parse_json(F.col("props")).alias("pv")
    ).write.parquet(path)
    back = spark.read.parquet(path)
    k = F.variant_get(F.col("pv"), "$.k", "bigint")
    return (
        back.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("k").alias("n_k_present"),
        )
        .orderBy("event_type")
    )


VARIANT_ROUNDTRIP_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS max_k,
       CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS n_k_present
FROM events GROUP BY 1 ORDER BY 1
"""


def _scratch_dir(kind: str, sf_dir: str) -> str:
    """Per-call scratch dir for the write-then-read gates in this
    module (variant roundtrips, upsert-store gates, the csv/json
    format gate) — delegates to the shared grace-window implementation
    (``_common.scratch_dir``; one mechanism for this module AND the
    persisted-ANN gates in llm_ops, r13 review)."""
    from near_event_streams_spark.plans._common import scratch_dir

    return scratch_dir(kind, sf_dir)


def variant_shredded_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHREDDED VARIANT storage + ``variant_get`` scan pushdown — the
    Spark-4 layout that makes semi-structured columns behave like typed
    parquet columns at scale. A 4-field variant object built from
    events (``to_variant_object`` — no JSON-text roundtrip) is written
    with ``spark.sql.variant.writeShredding.enabled`` +
    ``inferShreddingSchema``: the parquet footer then carries a
    ``typed_value`` group with one typed subcolumn per field. On read,
    ``spark.sql.variant.pushVariantIntoScan`` (default on) rewrites the
    ``variant_get`` paths INTO the scan — the plan's ReadSchema becomes
    ``struct<pv:struct<...>>`` with only the THREE requested fields, so
    the untouched ``uid`` subcolumn is never decoded and the candidate
    bytes track the projection, not the object width. That is the
    100 TB story: schema-on-read flexibility with columnar-scan cost.
    Plan shape is pinned by ``tests/test_plan_quality.py``; this gate
    pins the values through the shredded write→scan→extract roundtrip
    (all aggregates engine-exact: counts, bigint sums, double min/max —
    no float summation order in play). Session confs are restored after
    the write; scratch dir wiped per call."""
    ev = _t(spark, sf_dir, "events")
    path = _scratch_dir("variant_shred", sf_dir)
    confs = {
        "spark.sql.variant.writeShredding.enabled": "true",
        "spark.sql.variant.inferShreddingSchema": "true",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        ev.select(
            "event_id",
            F.to_variant_object(
                F.struct(
                    F.col("user_id").alias("uid"),
                    F.col("value").alias("val"),
                    F.col("event_type").alias("etype"),
                    F.get_json_object(F.col("props"), "$.k")
                    .cast("bigint")
                    .alias("k"),
                )
            ).alias("pv"),
        ).write.parquet(path)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    back = spark.read.parquet(path)
    return (
        back.select(
            F.variant_get(F.col("pv"), "$.etype", "string").alias("etype"),
            F.variant_get(F.col("pv"), "$.k", "bigint").alias("k"),
            F.variant_get(F.col("pv"), "$.val", "double").alias("val"),
        )
        .groupBy("etype")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_k_present"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .orderBy("etype")
    )


VARIANT_SHREDDED_SQL = """
SELECT event_type AS etype,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS n_k_present,
       MIN(value) AS min_val,
       MAX(value) AS max_val
FROM events GROUP BY 1 ORDER BY 1
"""


def array_functions_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array algebra: union/intersect/except/position/remove/zip over
    deterministic integer arrays derived from each row.

    The array ops stay under test, but every array-typed result is
    serialized with ``concat_ws`` in the FINAL projection: the external
    correctness driver canonicalizes rows in pandas and cannot sort
    list-typed cells (``TypeError: unhashable type: 'list'``), so the
    driver contract requires scalar output columns."""
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    a = F.array(k % 5, k % 7, k % 11)
    b = F.array(k % 7, k % 13)

    def ser(col: F.Column) -> F.Column:
        return F.concat_ws(",", col.cast("array<string>"))

    return orders.select(
        "o_orderkey",
        ser(F.sort_array(F.array_union(a, b))).alias("ab_union"),
        ser(F.sort_array(F.array_intersect(a, b))).alias("ab_intersect"),
        ser(F.sort_array(F.array_except(a, b))).alias("a_minus_b"),
        F.array_position(a, k % 7).cast("int").alias("pos_of_mod7"),
        ser(F.sort_array(F.array_remove(a, k % 5))).alias("a_no_mod5"),
        ser(F.array_repeat(k % 3, 2)).alias("mod3_twice"),
        F.size(F.arrays_zip(a, b)).alias("zip_len"),
    )


ARRAY_FUNCS2_SQL = """
WITH t AS (
  SELECT o_orderkey,
         [o_orderkey % 5, o_orderkey % 7, o_orderkey % 11] AS a,
         [o_orderkey % 7, o_orderkey % 13] AS b
  FROM orders
)
SELECT o_orderkey,
       COALESCE(array_to_string(list_sort(list_distinct(list_concat(a, b))), ','), '')
         AS ab_union,
       COALESCE(array_to_string(
         list_sort(list_distinct(list_filter(a, x -> list_contains(b, x)))),
         ','), '') AS ab_intersect,
       COALESCE(array_to_string(
         list_sort(list_distinct(
           list_filter(a, x -> NOT list_contains(b, x)))),
         ','), '') AS a_minus_b,
       CAST(list_position(a, o_orderkey % 7) AS INT) AS pos_of_mod7,
       COALESCE(array_to_string(list_sort(list_filter(a, x -> x <> o_orderkey % 5)),
                       ','), '') AS a_no_mod5,
       COALESCE(array_to_string([o_orderkey % 3, o_orderkey % 3], ','), '') AS mod3_twice,
       CAST(GREATEST(len(a), len(b)) AS INT) AS zip_len
FROM t
"""


# --------------------------------------------------------------------------
# RANGE window frames + date-spine generation (the remaining window frame
# type and the calendar-dimension generator).
# --------------------------------------------------------------------------


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, vs the ROWS frames elsewhere): for each
    customer, their account-balance peers within ±500.0 among the same
    nation — peers defined by VALUE distance, so tied balances all join
    the frame regardless of row order. Partitioned by nation (a global
    RANGE window would serialize onto one task at scale)."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal"))
        .rangeBetween(-500, 500)
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.count(F.lit(1)).over(w).alias("n_peers"),
        F.sum(dec("c_acctbal")).over(w).cast("double").alias("peer_total"),
    )


WINDOW_RANGE_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal,
  COUNT(*) OVER w AS n_peers,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) OVER w AS DOUBLE) AS peer_total
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal
             RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING)
"""


def date_spine_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar spine via sequence() + explode, left-joined to order
    counts — the gaps-included time series every dashboard needs (months
    with zero orders still get a row)."""
    orders = _t(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("month_start")
    )
    per_month = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        spine.join(per_month, "month_start", "left")
        .select(
            "month_start",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        )
        .orderBy("month_start")
    )


DATE_SPINE_SQL = """
WITH bounds AS (
  SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
         date_trunc('month', MAX(o_orderdate)) AS hi
  FROM orders
), spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS TIMESTAMP)
    AS month_start
  FROM bounds
), per_month AS (
  SELECT date_trunc('month', o_orderdate) AS month_start, COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT spine.month_start, COALESCE(per_month.n_orders, 0) AS n_orders
FROM spine LEFT JOIN per_month USING (month_start)
ORDER BY month_start
"""


# --------------------------------------------------------------------------
# UDAF + UDTF (completing SURVEY §2.2's UDF row: scalar pandas UDFs live
# in the LLM ops; these are the grouped-agg and table-function kinds).
# --------------------------------------------------------------------------


def agg_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (Arrow-batched UDAF): exact median of
    order totals per priority. Spark ships the whole group's column to
    one Python worker as a pandas Series — fine for bounded groups like
    these; percentile_value_stats is the JVM-side formulation."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(v.median())

    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.round(median_udaf("o_totalprice"), 6).alias("median_total"))
        .orderBy("o_orderpriority")
    )


AGG_MEDIAN_SQL = """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median_total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def udtf_region_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): one input row → N output
    rows with computed columns. Lateral-joined against the region table;
    the UDTF kind matters when row expansion needs imperative logic no
    generator expression covers."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="pos int, chunk string")
    class SplitName:
        def eval(self, name: str, width: int):
            for i in range(0, len(name), width):
                yield i // width, name[i : i + width]

    spark.udtf.register("split_name", SplitName)
    _t(spark, sf_dir, "region").createOrReplaceTempView("_udtf_region")
    return spark.sql(
        """
        SELECT r_regionkey, t.pos, t.chunk
        FROM _udtf_region, LATERAL split_name(r_name, 4) t
        ORDER BY r_regionkey, t.pos
        """
    )


UDTF_SQL = """
WITH spine AS (
  SELECT r_regionkey, r_name, CAST(s.i AS INT) AS pos
  FROM region, LATERAL (
    SELECT unnest(range(0, CAST(CEIL(len(r_name) / 4.0) AS INT))) AS i
  ) s
)
SELECT r_regionkey, pos, substring(r_name, pos * 4 + 1, 4) AS chunk
FROM spine
ORDER BY r_regionkey, pos
"""


def udtf_polymorphic_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic UDTF: ``analyze()`` computes the output schema FROM the
    arguments at plan time (here: one ``bucket_N`` flag column per
    requested bucket count), the Spark-4 table-function surface a fixed
    returnType can't express. The UDTF itself stays a narrow per-row
    expansion."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class BalanceBuckets:
        @staticmethod
        def analyze(bal: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            assert n.value is not None  # must be a literal/foldable arg
            schema = StructType().add("bucket", IntegerType())
            for i in range(int(n.value)):
                schema = schema.add(f"is_b{i}", "boolean")
            return AnalyzeResult(schema=schema)

        def eval(self, bal: float, n: int):
            # deterministic equi-width bucketing of acctbal over [-1000, 10000)
            idx = min(
                max(int((float(bal) + 1000.0) // (11000.0 / n)), 0), n - 1
            )
            yield (idx, *[i == idx for i in range(n)])

    spark.udtf.register("balance_buckets", udtf(BalanceBuckets))
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("_udtf_supplier")
    return spark.sql(
        """
        SELECT s_suppkey, t.bucket, t.is_b0, t.is_b1, t.is_b2
        FROM _udtf_supplier,
             LATERAL balance_buckets(CAST(s_acctbal AS DOUBLE), 3) t
        ORDER BY s_suppkey
        """
    )


UDTF_POLY_SQL = """
WITH b AS (
  SELECT s_suppkey,
         LEAST(GREATEST(CAST(FLOOR((CAST(s_acctbal AS DOUBLE) + 1000.0)
                                    / (11000.0 / 3)) AS INT), 0), 2)
           AS bucket
  FROM supplier
)
SELECT s_suppkey, bucket,
       bucket = 0 AS is_b0, bucket = 1 AS is_b1, bucket = 2 AS is_b2
FROM b
ORDER BY s_suppkey
"""


def generator_inline_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``inline`` generator: explode an array<struct> into columns in one
    step (the NEP-171 flatten shape at query level) — built from
    arrays_zip of per-row derived arrays."""
    supp = _t(spark, sf_dir, "supplier")
    pairs = F.arrays_zip(
        F.array(F.lit("nation"), F.lit("acct")),
        F.array(
            F.col("s_nationkey").cast("double"),
            F.round(F.col("s_acctbal"), 2),
        ),
    )
    return supp.select(
        "s_suppkey", F.inline(pairs).alias("attr", "val")
    ).orderBy("s_suppkey", "attr")


GENERATOR_INLINE_SQL = """
SELECT s_suppkey, 'nation' AS attr, CAST(s_nationkey AS DOUBLE) AS val
FROM supplier
UNION ALL
SELECT s_suppkey, 'acct' AS attr, ROUND(s_acctbal, 2) AS val
FROM supplier
ORDER BY s_suppkey, attr
"""


def map_functions_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: transform_keys / transform_values /
    map_zip_with — outputs scalarized so the oracle reproduces them from
    the base columns."""
    orders = _t(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("p"), F.col("o_totalprice"),
        F.lit("k"), F.col("o_orderkey").cast("double"),
    )
    upper_keys = F.transform_keys(m, lambda k, _: F.upper(k))
    doubled = F.transform_values(m, lambda _, v: v * 2.0)
    zipped = F.map_zip_with(m, doubled, lambda _, v1, v2: v2 - v1)
    return orders.select(
        "o_orderkey",
        F.array_join(F.map_keys(upper_keys), ",").alias("upper_keys"),
        F.round(F.element_at(doubled, "p"), 2).alias("price_x2"),
        F.round(F.element_at(zipped, "p"), 2).alias("zip_diff_p"),
        F.round(F.element_at(zipped, "k"), 2).alias("zip_diff_k"),
    )


MAP_FUNCS2_SQL = """
SELECT o_orderkey,
       'P,K' AS upper_keys,
       ROUND(o_totalprice * 2.0, 2) AS price_x2,
       ROUND(o_totalprice, 2) AS zip_diff_p,
       ROUND(CAST(o_orderkey AS DOUBLE), 2) AS zip_diff_k
FROM orders
"""


def struct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct build / field access / lexicographic struct comparison
    (structs order by field position — the tie-break idiom used in the
    dedup pair generators)."""
    li = _t(spark, sf_dir, "lineitem")
    a = F.struct(
        F.col("l_returnflag").alias("f"), F.col("l_quantity").alias("q")
    )
    b = F.struct(F.lit("N").alias("f"), F.lit(25.0).alias("q"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").alias("flag"),
        a.getField("q").alias("qty_via_struct"),
        (a < b).alias("before_n25"),
        (a == b).alias("exactly_n25"),
    )


STRUCT_FUNCS_SQL = """
SELECT l_orderkey, l_linenumber,
       l_returnflag AS flag,
       l_quantity AS qty_via_struct,
       (l_returnflag, l_quantity) < ('N', 25.0) AS before_n25,
       (l_returnflag, l_quantity) = ('N', 25.0) AS exactly_n25
FROM lineitem
"""


# --------------------------------------------------------------------------
# Scalar families, part 2: remaining string / date / JSON shapes.
# --------------------------------------------------------------------------


def string_functions_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.initcap(F.col("lang")).alias("lang_title"),
        F.lpad(F.col("source"), 10, "_").alias("source_pad"),
        F.reverse(F.col("lang")).alias("lang_rev"),
        F.translate(F.col("lang"), "aeiou", "AEIOU").alias("lang_vowel_up"),
        F.repeat(F.col("lang"), 2).alias("lang_x2"),
        F.split_part(t, F.lit(" "), F.lit(2)).alias("second_word"),
        F.regexp_count(t, F.lit("e")).alias("n_e"),
        F.position(F.lit("data"), t).cast("int").alias("data_pos"),
        F.left(t, F.lit(10)).alias("head10"),
        F.right(t, F.lit(5)).alias("tail5"),
    )


STRING_FUNCS2_SQL = """
SELECT doc_id,
       -- initcap semantics differ slightly across engines for non-alpha
       -- boundaries; lang codes are pure ascii letters so they agree
       upper(lang[1]) || lang[2:] AS lang_title,
       lpad(source, 10, '_') AS source_pad,
       reverse(lang) AS lang_rev,
       translate(lang, 'aeiou', 'AEIOU') AS lang_vowel_up,
       repeat(lang, 2) AS lang_x2,
       split_part(text, ' ', 2) AS second_word,
       CAST(length(text) - length(replace(text, 'e', '')) AS INT) AS n_e,
       CAST(strpos(text, 'data') AS INT) AS data_pos,
       text[1:10] AS head10,
       CASE WHEN length(text) <= 5 THEN text
            ELSE text[-5:] END AS tail5
FROM documents
"""


def date_functions_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_add(d.cast("date"), 30).alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date")).alias(
            "days_to_2002"
        ),
        F.last_day(d).alias("month_end"),
        F.dayofweek(d).alias("dow"),
        F.weekofyear(d).alias("week"),
        F.dayofyear(d).alias("doy"),
        F.add_months(d.cast("date"), 3).alias("plus_quarter"),
        (
            (F.lit(2002) - F.year(d)) * 12 + (F.lit(1) - F.month(d))
        ).alias("whole_months_to_2002"),
    )


DATE_FUNCS2_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
            AS INT) AS days_to_2002,
       CAST(last_day(o_orderdate) AS DATE) AS month_end,
       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
       CAST(weekofyear(o_orderdate) AS INT) AS week,
       CAST(dayofyear(o_orderdate) AS INT) AS doy,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
         AS plus_quarter,
       CAST((2002 - year(o_orderdate)) * 12 + (1 - month(o_orderdate))
            AS INT) AS whole_months_to_2002
FROM orders
"""


def json_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with explicit schema → struct access → to_json roundtrip
    (the typed-envelope pattern the parity layer uses on event payloads)."""
    ev = _t(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k bigint")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k"),
        (parsed.getField("k") % 10).alias("k_mod10"),
        F.to_json(F.struct(F.col("event_type"), parsed.getField("k").alias("k"))).alias(
            "rebuilt"
        ),
    )


JSON_ROUNDTRIP_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10,
       '{"event_type":"' || event_type || '","k":'
         || json_extract_string(props, '$.k') || '}' AS rebuilt
FROM events
"""


# --------------------------------------------------------------------------
# Multiset + collection aggregates: EXCEPT ALL, sorted collect_list,
# string aggregation — deterministic via explicit element ordering.
# --------------------------------------------------------------------------


def set_except_all_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference): an urgent-order custkey occurrence
    survives once per unmatched duplicate — distinct from EXCEPT."""
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("custkey")
    )
    return urgent.exceptAll(high)


SET_EXCEPT_ALL_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
EXCEPT ALL
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '2-HIGH'
"""


def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list made deterministic: sort_array fixes the element order
    that Spark's partition-dependent collection would otherwise leave
    arbitrary (same rule as the DuckDB list(... ORDER BY) oracle).

    The collected array is serialized with ``concat_ws`` in the final
    projection — the driver's pandas canonicalizer cannot hash list
    cells, so the driver contract requires scalar output columns."""
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.groupBy("s_nationkey")
        .agg(
            F.concat_ws(
                ",",
                F.sort_array(F.collect_list("s_suppkey")).cast(
                    "array<string>"
                ),
            ).alias("suppkeys"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
        .orderBy("s_nationkey")
    )


AGG_COLLECT_SQL = """
SELECT s_nationkey,
       array_to_string(list(s_suppkey ORDER BY s_suppkey), ',') AS suppkeys,
       COUNT(*) AS n_suppliers
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (listagg shape): distinct statuses per priority,
    sorted then joined — deterministic in both engines."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_set("o_orderstatus"))
            ).alias("statuses"),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
        )
        .orderBy("o_orderpriority")
    )


AGG_STRING_SQL = """
SELECT o_orderpriority,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
         AS statuses,
       COUNT(DISTINCT o_orderstatus) AS n_statuses
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def subquery_scalar_in_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries in the SELECT list (two independent
    correlations per row). Catalyst decorrelates each into a left outer
    aggregate join — no per-row re-execution, so the shape scales as two
    broadcast/shuffle joins rather than nation×(customer+supplier) probes.
    """
    _t(spark, sf_dir, "nation").createOrReplaceTempView("_sq_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_sq_customer")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("_sq_supplier")
    return spark.sql(
        """
        SELECT n_name,
          (SELECT COUNT(*) FROM _sq_customer c
            WHERE c.c_nationkey = n.n_nationkey) AS n_customers,
          (SELECT CAST(MAX(s.s_acctbal) AS DOUBLE) FROM _sq_supplier s
            WHERE s.s_nationkey = n.n_nationkey) AS max_supp_bal
        FROM _sq_nation n
        ORDER BY n_name
        """
    )


SUBQUERY_SCALAR_SELECT_SQL = """
SELECT n_name,
  (SELECT COUNT(*) FROM customer c
    WHERE c.c_nationkey = n.n_nationkey) AS n_customers,
  (SELECT CAST(MAX(s.s_acctbal) AS DOUBLE) FROM supplier s
    WHERE s.s_nationkey = n.n_nationkey) AS max_supp_bal
FROM nation n
ORDER BY n_name
"""


def lateral_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT: top-2
    orders by value for each of the first 100 customers. Catalyst rewrites
    the lateral into a ranked window over a single join — the per-customer
    top-n never materializes a full per-row sort."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.total
        FROM _lat_customer c,
        LATERAL (
          SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
          FROM _lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        WHERE c.c_custkey <= 100
        ORDER BY c.c_custkey, total DESC, o_orderkey
        """
    )


LATERAL_TOPN_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.total
FROM customer c,
LATERAL (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_custkey <= 100
ORDER BY c.c_custkey, total DESC, o_orderkey
"""


# --------------------------------------------------------------------------
# TPC-H Q2 — min-cost supplier, adapted to this schema: there is no
# partsupp table, so the supplier×part supply cost is derived from
# lineitem as the minimum observed unit price per (suppkey, partkey).
# Keeps Q2's defining shape: region-filtered supplier dims, a correlated
# per-part MIN subquery (decorrelated to a partkey window), top-ordered
# output. Scale: part scope broadcasts into the lineitem scan BEFORE the
# supply aggregation, so the big agg only sees in-scope parts; the
# per-part MIN is one window over the already-small regional supply set.
# --------------------------------------------------------------------------


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part_scope = F.broadcast(
        _t(spark, sf_dir, "part").filter(
            (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
        )
    )
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_nations = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    supply = (
        li.join(part_scope, li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey", "p_partkey", "p_name")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "supplycost"
            )
        )
    )
    eu = (
        supply.join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .join(eu_nations, supplier.s_nationkey == F.col("n_nationkey"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        eu.withColumn("_min_cost", F.min("supplycost").over(w))
        .filter(F.col("supplycost") == F.col("_min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("supplycost", 6).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


Q2_SQL = """
WITH supply AS (
  SELECT l_suppkey, l_partkey,
         MIN(l_extendedprice / l_quantity) AS supplycost
  FROM lineitem
  WHERE l_partkey IN (
    SELECT p_partkey FROM part WHERE p_type = 'STANDARD' AND p_size <= 10
  )
  GROUP BY 1, 2
), eu AS (
  SELECT s.l_partkey, s.supplycost, sp.s_acctbal, sp.s_name, n.n_name
  FROM supply s
  JOIN supplier sp ON s.l_suppkey = sp.s_suppkey
  JOIN nation n ON sp.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_name,
       ROUND(e.supplycost, 6) AS supplycost
FROM part p JOIN eu e ON e.l_partkey = p.p_partkey
WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
  AND e.supplycost = (
    SELECT MIN(e2.supplycost) FROM eu e2 WHERE e2.l_partkey = p.p_partkey
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
"""

# --------------------------------------------------------------------------
# TPC-H Q4 — order-priority checking, adapted: lineitem has no
# commitdate/receiptdate, so "late" means a line shipped more than 90
# days after the order date. Keeps Q4's defining shape: EXISTS
# (correlated, mixed equi + inequality predicate) folding to a left-semi
# join, then a tiny priority rollup.
# --------------------------------------------------------------------------


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# --------------------------------------------------------------------------
# TPC-H Q11 — important stock, adapted: part "value held by one nation's
# suppliers" is the revenue its suppliers booked on that part (no
# partsupp availqty). Keeps Q11's defining shape: a grouped value per
# part, a scalar-subquery global total, and a fraction-of-total filter.
# Scale: the nation's supplier set broadcasts into the lineitem scan;
# the global total is a second pass over the (much smaller) per-part
# aggregate, reused via the broadcast scalar.
# --------------------------------------------------------------------------


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    sn = F.broadcast(
        supplier.join(
            nation, supplier.s_nationkey == nation.n_nationkey
        ).select("s_suppkey")
    )
    per_part = (
        li.join(sn, li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                dec("l_extendedprice")
                * dec(F.lit(1.0) - F.col("l_discount"), 4, 2)
            ).alias("_val")
        )
    )
    total = per_part.agg(F.sum("_val").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("_val").cast("double")
            > F.col("_total").cast("double") * 0.001
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("_val").cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, CAST(val AS DOUBLE) AS part_value
FROM per_part
WHERE CAST(val AS DOUBLE) >
      (SELECT CAST(SUM(val) AS DOUBLE) FROM per_part) * 0.001
ORDER BY part_value DESC, p_partkey
"""

# --------------------------------------------------------------------------
# Statistical moments family: corr / covar_samp / stddev_samp / var_samp /
# skewness. Cross-engine float accumulation order differs, so the gate is
# engine-local invariants (bounds and algebraic identities each engine
# verifies on its OWN numbers) plus exact integer aggregates for the hash.
# --------------------------------------------------------------------------


def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("double")
    y = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double")
    per = docs.select("source", x.alias("x"), y.alias("y"), "n_chars")
    g = per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.corr("x", "y").alias("_corr"),
        F.covar_samp("x", "y").alias("_covar"),
        F.stddev_samp("x").alias("_sx"),
        F.stddev_samp("y").alias("_sy"),
        F.var_samp("x").alias("_vx"),
        F.skewness("x").alias("_skew"),
    )
    eps = 1e-9
    return g.select(
        "source",
        "n_docs",
        "sum_chars",
        (F.abs(F.col("_corr")) <= 1.0 + eps).alias("corr_bounded"),
        (
            F.abs(
                F.col("_corr") - F.col("_covar") / (F.col("_sx") * F.col("_sy"))
            )
            < eps
        ).alias("corr_covar_consistent"),
        (F.abs(F.col("_sx") * F.col("_sx") - F.col("_vx")) < 1e-6).alias(
            "stddev_var_consistent"
        ),
        (~F.isnan("_skew") & F.col("_skew").isNotNull()).alias(
            "skewness_finite"
        ),
    ).orderBy("source")


STATS_MOMENTS_SQL = """
WITH per AS (
  SELECT source,
         CAST(n_chars AS DOUBLE) AS x,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS y,
         n_chars
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       abs(corr(x, y)) <= 1.000000001 AS corr_bounded,
       abs(corr(x, y)
           - covar_samp(x, y) / (stddev_samp(x) * stddev_samp(y)))
         < 0.000000001 AS corr_covar_consistent,
       abs(stddev_samp(x) * stddev_samp(x) - var_samp(x))
         < 0.000001 AS stddev_var_consistent,
       isfinite(skewness(x)) AS skewness_finite
FROM per
GROUP BY source
ORDER BY source
"""

# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

def higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda (higher-order) array functions — aggregate with a finish
    lambda, zip_with, exists, forall, filter, and indexed transform —
    over deterministic per-row arrays. Array results serialize with
    concat_ws (the driver-canon scalar-output convention)."""
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    a = F.array(k % 7, k % 5, k % 3, k % 11)
    b = F.array(k % 2, k % 4, k % 6, k % 8)

    def ser(col: F.Column) -> F.Column:
        return F.concat_ws(",", col.cast("array<string>"))

    return orders.select(
        "o_orderkey",
        F.aggregate(
            a,
            F.lit(0).cast("long"),
            lambda acc, x: acc + x * 2,
            lambda acc: acc + 1,
        ).alias("agg_weighted"),
        ser(F.zip_with(a, b, lambda x, y: x * y)).alias("zip_prod"),
        F.exists(a, lambda x: x == 0).alias("has_zero"),
        F.forall(a, lambda x: x >= 0).alias("all_nonneg"),
        ser(F.filter(a, lambda x: x % 2 == 0)).alias("evens"),
        ser(
            F.transform(a, lambda x, i: x + i.cast("bigint"))
        ).alias("plus_index"),
    )


HIGHER_ORDER_SQL = """
WITH t AS (
  SELECT o_orderkey,
         [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3, o_orderkey % 11]
           AS a,
         [o_orderkey % 2, o_orderkey % 4, o_orderkey % 6, o_orderkey % 8]
           AS b
  FROM orders
)
SELECT o_orderkey,
       list_reduce(list_transform(a, x -> x * 2), (acc, x) -> acc + x) + 1
         AS agg_weighted,
       COALESCE(array_to_string(
         list_transform(list_zip(a, b), s -> s[1] * s[2]), ','), '')
         AS zip_prod,
       len(list_filter(a, x -> x = 0)) > 0 AS has_zero,
       len(list_filter(a, x -> NOT (x >= 0))) = 0 AS all_nonneg,
       COALESCE(array_to_string(list_filter(a, x -> x % 2 = 0), ','), '')
         AS evens,
       COALESCE(array_to_string(
         list_transform(range(1, 5), i -> a[i] + (i - 1)), ','), '')
         AS plus_index
FROM t
"""


def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window navigation — first/last/nth_value skipping a
    planted NULL pattern (nullif on a modulus), the gap-filling shape of
    last-observation-carried-forward pipelines. Partitioned per customer
    so the window never serializes globally."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    v = F.nullif(F.col("o_orderkey") % 7, F.lit(3))
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wp = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        v.alias("v"),
        F.last(v, ignorenulls=True).over(wp).alias("locf"),
        F.first(v, ignorenulls=True).over(wf).alias("first_nn"),
        F.last(v, ignorenulls=True).over(wf).alias("last_nn"),
        F.nth_value(v, 2, ignoreNulls=True).over(wf).alias("second_nn"),
        F.count(F.when(v.isNull(), 1)).over(wf).alias("n_nulls"),
    )


WINDOW_IGNORE_NULLS_SQL = """
SELECT o_custkey, o_orderkey,
  NULLIF(o_orderkey % 7, 3) AS v,
  last_value(NULLIF(o_orderkey % 7, 3) IGNORE NULLS) OVER wp AS locf,
  first_value(NULLIF(o_orderkey % 7, 3) IGNORE NULLS) OVER wf AS first_nn,
  last_value(NULLIF(o_orderkey % 7, 3) IGNORE NULLS) OVER wf AS last_nn,
  nth_value(NULLIF(o_orderkey % 7, 3), 2 IGNORE NULLS) OVER wf AS second_nn,
  CAST(COUNT(CASE WHEN NULLIF(o_orderkey % 7, 3) IS NULL THEN 1 END)
       OVER wf AS BIGINT) AS n_nulls
FROM orders
WINDOW wp AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# --------------------------------------------------------------------------
# Event product analytics: ordered funnel + retention cohorts.
# Scale: both are user-keyed — every shuffle is on user_id (or the small
# cohort key), steps compose as conditional aggregates + equi self-joins.
# No windows over the global event stream, no per-user collect.
# --------------------------------------------------------------------------


def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view → click → purchase): per user, step N
    counts only if it happens strictly AFTER the user's step-N-1 time.

    Each step is one conditional min-aggregate on user_id followed by an
    equi join back — at 100 TB that is three user-keyed hash aggs and
    two user-keyed joins (AQE co-partitions them); the final rollup is a
    3-row scalar aggregate. This is the join-free-of-cartesians funnel
    shape; a per-user sorted-array fold would be the non-scalable
    alternative.
    """
    from near_event_streams_spark.plans._common import ts_us

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", ts_us().alias("ts_us")
    )
    # s1/s2 are each consumed twice (next step + the count row) and
    # Catalyst does not dedupe the shared subtree — persisted so the
    # event stream is filtered once per step (cache = per-user rows)
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
        .persist()
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts_us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
        .persist()
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts_us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    counts = (
        s1.agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(1).alias("step"), F.lit("view").alias("step_name"), "n")
        .unionByName(
            s2.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(2).alias("step"), F.lit("click").alias("step_name"), "n"
            )
        )
        .unionByName(
            s3.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(3).alias("step"),
                F.lit("purchase").alias("step_name"),
                "n",
            )
        )
    )
    w = Window.orderBy("step")  # 3 rows — bounded by construction
    return (
        counts.withColumn("_prev_n", F.lag("n").over(w))
        # exact integer HALF_UP (see _common.half_up6_*); NULL prev
        # (step 1) propagates to NULL like the double division did, and
        # a ZERO prev (empty funnel step) is guarded to NULL too — the
        # integer div would raise DIVIDE_BY_ZERO under ANSI mode
        .withColumn(
            "conv_from_prev",
            F.when(
                F.col("_prev_n") > 0,
                F.expr(half_up6_spark("n", "_prev_n")),
            ),
        )
        .drop("_prev_n")
        .orderBy("step")
    )


FUNNEL_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events
), s1 AS (
  SELECT user_id, MIN(ts_us) AS t1 FROM ev
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT ev.user_id, MIN(ts_us) AS t2
  FROM ev JOIN s1 USING (user_id)
  WHERE event_type = 'click' AND ts_us > t1
  GROUP BY ev.user_id
), s3 AS (
  SELECT ev.user_id, MIN(ts_us) AS t3
  FROM ev JOIN s2 USING (user_id)
  WHERE event_type = 'purchase' AND ts_us > t2
  GROUP BY ev.user_id
), counts AS (
  SELECT 1 AS step, 'view' AS step_name, CAST(COUNT(*) AS BIGINT) AS n FROM s1
  UNION ALL
  SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
)
SELECT step, step_name, n,
       CASE WHEN prev_n > 0
            THEN {half_up6_duck("n", "prev_n")} END AS conv_from_prev
FROM (SELECT step, step_name, n,
             lag(n) OVER (ORDER BY step) AS prev_n
      FROM counts)
ORDER BY step
"""


def funnel_windowed_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered funnel with a CONVERSION WINDOW: click and purchase
    count only when they land within 24 h of the user's first view —
    the form product analytics actually reports (unbounded funnels
    overcount stale journeys). Same join-free-of-cartesians shape as
    ``funnel_view_click_purchase``: conditional min-aggs + user-keyed
    equi joins, the window bound just joins the deadline through.
    """
    from near_event_streams_spark.plans._common import ts_us

    win_us = 24 * 3600 * 1_000_000
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", ts_us().alias("ts_us")
    )
    # same persist rationale as funnel_view_click_purchase
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
        .persist()
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t1"))
            & (F.col("ts_us") <= F.col("t1") + win_us)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"), F.first("t1").alias("t1"))
        .persist()
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t2"))
            & (F.col("ts_us") <= F.col("t1") + win_us)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    counts = (
        s1.agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit(1).alias("step"), F.lit("view").alias("step_name"), "n"
        )
        .unionByName(
            s2.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(2).alias("step"),
                F.lit("click").alias("step_name"),
                "n",
            )
        )
        .unionByName(
            s3.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(3).alias("step"),
                F.lit("purchase").alias("step_name"),
                "n",
            )
        )
    )
    w = Window.orderBy("step")  # 3 rows — bounded by construction
    return (
        counts.withColumn("_prev_n", F.lag("n").over(w))
        # exact integer HALF_UP (see _common.half_up6_*); NULL prev
        # (step 1) propagates to NULL like the double division did, and
        # a ZERO prev (empty funnel step) is guarded to NULL too — the
        # integer div would raise DIVIDE_BY_ZERO under ANSI mode
        .withColumn(
            "conv_from_prev",
            F.when(
                F.col("_prev_n") > 0,
                F.expr(half_up6_spark("n", "_prev_n")),
            ),
        )
        .drop("_prev_n")
        .orderBy("step")
    )


FUNNEL_WINDOWED_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events
), s1 AS (
  SELECT user_id, MIN(ts_us) AS t1 FROM ev
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT ev.user_id, MIN(ts_us) AS t2, ANY_VALUE(t1) AS t1
  FROM ev JOIN s1 USING (user_id)
  WHERE event_type = 'click' AND ts_us > t1
    AND ts_us <= t1 + 86400000000
  GROUP BY ev.user_id
), s3 AS (
  SELECT ev.user_id, MIN(ts_us) AS t3
  FROM ev JOIN s2 USING (user_id)
  WHERE event_type = 'purchase' AND ts_us > t2
    AND ts_us <= t1 + 86400000000
  GROUP BY ev.user_id
), counts AS (
  SELECT 1 AS step, 'view' AS step_name, CAST(COUNT(*) AS BIGINT) AS n
  FROM s1
  UNION ALL
  SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
)
SELECT step, step_name, n,
       CASE WHEN prev_n > 0
            THEN {half_up6_duck("n", "prev_n")} END AS conv_from_prev
FROM (SELECT step, step_name, n,
             lag(n) OVER (ORDER BY step) AS prev_n
      FROM counts)
ORDER BY step
"""


def retention_cohorts_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-cohort retention: users grouped by first-activity day; for
    offsets 0..7 count how many are active again that many days later.

    One user_id agg for cohort assignment, one user-keyed equi join back,
    one (cohort_day, offset) agg — the cohort key space is bounded by
    the calendar, so the final agg is small no matter the user count.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(cohort, "user_id")
        .withColumn("offset_days", F.datediff("day", "cohort_day"))
        .filter(F.col("offset_days").between(0, 7))
        .groupBy("cohort_day", "offset_days")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_day", "offset_days")
    )


RETENTION_SQL = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
), cohort AS (
  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id
)
SELECT cohort_day, datediff('day', cohort_day, day) AS offset_days,
       CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_active
FROM ev JOIN cohort USING (user_id)
WHERE datediff('day', cohort_day, day) BETWEEN 0 AND 7
GROUP BY cohort_day, offset_days
ORDER BY cohort_day, offset_days
"""


def active_users_dau_wau_mau(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAU / WAU(7d) / MAU(28d) per day — rolling DISTINCT users, the
    product-analytics staple that naive windows cannot express (distinct
    over a sliding frame).

    The scalable shape: dedupe to (user, day) pairs once, then each pair
    fans out to the (metric, report_day) combinations it supports (1 for
    DAU, 7 for WAU, 28 for MAU — a FIXED 36× fan-out on already-deduped
    pairs, not raw events). ONE distinct collapses multi-day activity
    inside a window, then ONE report_day agg takes conditional counts
    per metric — no per-horizon join tree at all, and a calendar day
    with zero DAU but nonzero rolling WAU/MAU keeps its row with DAU 0
    (the conditional count is simply empty) instead of vanishing in an
    inner join. The exact-tolerant alternative at 100 TB is one HLL
    sketch per day merged over the window (``active_users_hll``).
    Report range clipped to observed days so no partial trailing
    windows appear.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    ud = ev.distinct()
    # bounds from RAW events — identical min/max, and deriving them
    # from ud would re-run the whole user-day distinct for one scalar
    bounds = ev.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )

    # One literal (metric, offset) combo array explodes every metric's
    # fan-out from a SINGLE pass over ud — a union of per-metric
    # branches would recompute the (user, day) distinct three times.
    combos = F.array(
        *[
            F.struct(F.lit(m).alias("m"), F.lit(k).alias("k"))
            for m, days in (("dau", 1), ("wau", 7), ("mau", 28))
            for k in range(days)
        ]
    )
    pairs = (
        ud.select("user_id", "day", F.explode(combos).alias("c"))
        .select(
            F.col("c.m").alias("metric"),
            "user_id",
            F.date_add("day", F.col("c.k")).alias("report_day"),
        )
        .distinct()
    )
    counts = pairs.groupBy("report_day").agg(
        F.count(F.when(F.col("metric") == "dau", 1)).alias("dau"),
        F.count(F.when(F.col("metric") == "wau", 1)).alias("wau"),
        F.count(F.when(F.col("metric") == "mau", 1)).alias("mau"),
    )
    return (
        counts.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("report_day") >= F.col("lo"))
            & (F.col("report_day") <= F.col("hi"))
        )
        .select("report_day", "dau", "wau", "mau")
        .orderBy("report_day")
    )


DAU_WAU_MAU_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), bounds AS (
  SELECT MIN(day) AS lo, MAX(day) AS hi FROM ud
), dau AS (
  SELECT day AS report_day, COUNT(DISTINCT user_id) AS dau
  FROM ud GROUP BY day
), wau AS (
  SELECT day + CAST(k AS INT) AS report_day,
         COUNT(DISTINCT user_id) AS wau
  FROM ud, unnest(range(0, 7)) t(k) GROUP BY 1
), mau AS (
  SELECT day + CAST(k AS INT) AS report_day,
         COUNT(DISTINCT user_id) AS mau
  FROM ud, unnest(range(0, 28)) t(k) GROUP BY 1
)
SELECT report_day, CAST(COALESCE(dau, 0) AS BIGINT) AS dau,
       CAST(COALESCE(wau, 0) AS BIGINT) AS wau,
       CAST(COALESCE(mau, 0) AS BIGINT) AS mau
FROM dau FULL JOIN wau USING (report_day)
         FULL JOIN mau USING (report_day), bounds
WHERE report_day >= lo AND report_day <= hi
ORDER BY report_day
"""


def active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU via per-day HLL sketch merge — the fan-out-FREE
    rolling-distinct path for 100 TB (the alternative the exact
    operator's docstring names).

    The exact operator fans every deduped (user, day) pair 36×; here
    the raw events collapse to ONE ``hll_sketch_agg`` per calendar day
    first, and only the ~calendar-bounded day rows fan out — sketch
    bytes travel, user rows never do. Each report day unions the
    sketches of its trailing 1/7/28 days (``hll_union_agg``, the
    mergeable-sketch property that lets executors sketch locally).

    Invariant-gated like ``agg_hll_sketch_union``: the emitted
    dau/wau/mau are the EXACT rolling distincts (oracle-replayable);
    the booleans pin that each horizon's merged-sketch estimate lands
    within 5% of exact (datasketches HLL at default lgK≈12 has ~1.6%
    relative error).
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    combos = F.array(
        *[
            F.struct(F.lit(m).alias("m"), F.lit(k).alias("k"))
            for m, days in (("dau", 1), ("wau", 7), ("mau", 28))
            for k in range(days)
        ]
    )
    est = (
        daily.select("day", "sk", F.explode(combos).alias("c"))
        .select(
            F.col("c.m").alias("metric"),
            F.date_add("day", F.col("c.k")).alias("report_day"),
            "sk",
        )
        .groupBy("report_day")
        .agg(
            *[
                F.hll_sketch_estimate(
                    F.hll_union_agg(
                        F.when(F.col("metric") == m, F.col("sk"))
                    )
                ).alias(f"{m}_est")
                for m in ("dau", "wau", "mau")
            ]
        )
    )
    exact = active_users_dau_wau_mau(spark, sf_dir)

    def within(m: str):
        e = F.coalesce(F.col(f"{m}_est"), F.lit(0)).cast("double")
        x = F.col(m).cast("double")
        return (
            F.abs(e - x) / F.greatest(x, F.lit(1.0)) <= 0.05
        ).alias(f"{m}_within_5pct")

    return (
        exact.join(est, "report_day")
        .select(
            "report_day",
            "dau",
            "wau",
            "mau",
            within("dau"),
            within("wau"),
            within("mau"),
        )
        .orderBy("report_day")
    )


ACTIVE_USERS_HLL_SQL = (
    DAU_WAU_MAU_SQL.rstrip().removesuffix("ORDER BY report_day").rstrip()
    .replace(
        "SELECT report_day, CAST(COALESCE(dau, 0) AS BIGINT) AS dau,",
        "SELECT report_day, CAST(COALESCE(dau, 0) AS BIGINT) AS dau,\n"
        "       TRUE AS dau_within_5pct, TRUE AS wau_within_5pct,\n"
        "       TRUE AS mau_within_5pct,",
    )
    + "\nORDER BY report_day\n"
)


def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier co-purchase graph
    (``operators/graph.py:pagerank``, 5 power-iteration supersteps):
    nodes are customers and suppliers (namespaced ids), an undirected
    edge joins each customer to every supplier it bought from —
    symmetric, so no dangling mass. The iterative-graph-algorithm
    family: per superstep one node-keyed join + one dst-keyed sum,
    lineage truncated by localCheckpoint.

    Deterministic cross-engine by construction: the entire iteration is
    FIXED-POINT bigint arithmetic (1e-8 units, integral division) — no
    float sums, no ROUND(double) boundary disagreements — and the DuckDB
    oracle replays all 5 supersteps via chained CTEs bit-for-bit."""
    from near_event_streams_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    pr = pagerank(edges, iterations=5)
    return pr.orderBy(F.desc("pagerank_units"), "node").limit(100)


def _pagerank_iter_cte(prev: str, cur: str) -> str:
    return f"""{cur} AS (
  SELECT nodes.node,
    tele + (85 * COALESCE(m.in_mass, 0)) // 100 AS pr
  FROM nodes
  LEFT JOIN (
    SELECT dst AS node, SUM(pr // deg) AS in_mass
    FROM {prev} JOIN edges ON {prev}.node = edges.src
    JOIN outdeg USING (src)
    GROUP BY dst
  ) m USING (node), nn
)"""


PAGERANK_SQL = (
    """
WITH pairs AS (
  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL SELECT s, c FROM pairs
), nodes AS (
  SELECT src AS node FROM edges
  UNION SELECT dst FROM edges
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(15 * 100000000 AS BIGINT) // (100 * CAST(COUNT(*) AS BIGINT))
           AS tele
  FROM nodes
), outdeg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
), r0 AS (
  SELECT node, CAST(100000000 AS BIGINT) // n AS pr FROM nodes, nn
), """
    + ",\n".join(
        _pagerank_iter_cte(f"r{i}", f"r{i + 1}") for i in range(5)
    )
    + """
SELECT node, CAST(pr AS BIGINT) AS pagerank_units,
       CAST(pr AS DOUBLE) / 100000000.0 AS pagerank
FROM r5
ORDER BY pagerank_units DESC, node
LIMIT 100
"""
)


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the same customer↔supplier co-purchase
    graph as ``graph_pagerank_copurchase``, via deterministic
    synchronous label propagation (``operators/graph.py:
    label_propagation``, 4 supersteps: adopt the most frequent
    in-neighbor label, ties to the smallest). Integer counts + string
    tie-breaks ⇒ the oracle replays all supersteps bit-for-bit.
    Returns the full node→community assignment — every node's label is
    pinned (the dense co-purchase graph collapses to two giant
    communities, so a rollup would pin only two rows)."""
    from near_event_streams_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    lab = label_propagation(edges, iterations=4)
    return lab.select("node", "label").orderBy("node")


def _labelprop_iter_cte(prev: str, cur: str) -> str:
    return f"""{cur} AS (
  SELECT l.node, COALESCE(b.new_label, l.label) AS label
  FROM {prev} l LEFT JOIN (
    SELECT node, label AS new_label FROM (
      SELECT node, label, row_number() OVER (
               PARTITION BY node ORDER BY cnt DESC, label) AS rn
      FROM (
        SELECT e.dst AS node, l2.label, COUNT(*) AS cnt
        FROM edges e JOIN {prev} l2 ON e.src = l2.node
        GROUP BY e.dst, l2.label
      )
    ) WHERE rn = 1
  ) b USING (node)
)"""


LABELPROP_SQL = (
    """
WITH pairs AS (
  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL SELECT s, c FROM pairs
), l0 AS (
  SELECT node, node AS label FROM (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges
  )
), """
    + ",\n".join(
        _labelprop_iter_cte(f"l{i}", f"l{i + 1}") for i in range(4)
    )
    + """
SELECT node, label FROM l4 ORDER BY node
"""
)


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch campaign attribution: each purchase's value credits
    the campaign (``props.k % 10`` of the CLICK event) of the user's
    most recent click within 24 h; purchases with no qualifying click
    land in campaign -1. Per-campaign totals with exact-decimal sums.

    The composition a marketing pipeline runs end-to-end: backward
    as-of (tagged union + running ``last(…, ignorenulls)`` — ONE
    user-keyed shuffle, no cross product, same-instant click visible),
    JSON attribute extraction on the click side, tolerance mask on the
    MATERIALIZED columns (the window-reuse-after-filter trap), and a
    bounded campaign-key aggregate.
    """
    from near_event_streams_spark.plans._common import dec, dsum, ts_us

    tol_us = 24 * 3600 * 1_000_000
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "event_id",
        "value",
        ts_us().alias("ts_us"),
        F.when(F.col("event_type") == "click", F.lit(0))
        .otherwise(F.lit(1))
        .alias("src"),
        (
            F.get_json_object("props", "$.k").cast("long") % 10
        ).alias("campaign"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.last(
        F.when(F.col("src") == 0, F.col("ts_us")), ignorenulls=True
    ).over(w)
    click_camp = F.last(
        F.when(F.col("src") == 0, F.col("campaign")), ignorenulls=True
    ).over(w)
    in_tol = (F.col("ts_us") - F.col("_cts")) <= tol_us
    attributed = (
        tagged.withColumn("_cts", click_ts)
        .withColumn("_ccamp", click_camp)
        .filter(F.col("src") == 1)
        .select(
            F.coalesce(
                F.when(in_tol, F.col("_ccamp")), F.lit(-1)
            ).alias("campaign"),
            "value",
        )
    )
    return (
        attributed.groupBy("campaign")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum(dec("value"), "total_value"),
        )
        .orderBy("campaign")
    )


ATTRIBUTION_SQL = """
WITH tagged AS (
  SELECT user_id, event_id, value,
         epoch_ns(ts) // 1000 AS ts_us,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS src,
         CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
           AS campaign
  FROM events WHERE event_type IN ('click', 'purchase')
), matched AS (
  SELECT user_id, value, ts_us, src,
    last_value(CASE WHEN src = 0 THEN ts_us END IGNORE NULLS) OVER w
      AS cts,
    last_value(CASE WHEN src = 0 THEN campaign END IGNORE NULLS) OVER w
      AS ccamp
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, src, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), attributed AS (
  SELECT COALESCE(CASE WHEN ts_us - cts <= 86400000000 THEN ccamp END,
                  -1) AS campaign,
         value
  FROM matched WHERE src = 1
)
SELECT campaign, CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM attributed
GROUP BY campaign
ORDER BY campaign
"""


def feature_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection per user (Page 1954):
    ``S_i = max(0, S_{i-1} + (x_i - allowance))``, alarm while
    ``S > threshold`` — the drift detector monitoring pipelines run on
    metric streams. Emits per-user alarm count and the peak statistic.

    The recurrence is inherently sequential PER KEY, so the scalable
    shape is the same as the EWMA/next-fit precedents: ONE shuffle on
    user_id, the per-user series collected and sorted ROW-LOCALLY
    (state bounded by that user's event count), and the clamp-fold runs
    as a JVM array aggregate. Identical double arithmetic in identical
    order means the DuckDB oracle's recursive CTE replays it
    bit-for-bit.
    """
    from near_event_streams_spark.plans._common import ts_us

    allowance, threshold = 5.0, 50.0
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select(
            "user_id",
            F.struct(
                ts_us().alias("t"),
                F.col("event_id").alias("e"),
                F.col("value").alias("v"),
            ).alias("row"),
        )
    )
    series = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("row")).alias("rows")
    )
    zero = F.struct(
        F.lit(0.0).alias("s"),
        F.lit(0).cast("long").alias("n_alarms"),
        F.lit(0.0).alias("smax"),
    )

    def step(acc, x):
        s2 = F.greatest(
            F.lit(0.0), acc["s"] + (x["v"] - F.lit(allowance))
        )
        return F.struct(
            s2.alias("s"),
            (
                acc["n_alarms"]
                + F.when(s2 > threshold, 1).otherwise(0)
            ).alias("n_alarms"),
            F.greatest(acc["smax"], s2).alias("smax"),
        )

    folded = F.aggregate(F.col("rows"), zero, step)
    return series.select(
        "user_id",
        folded["n_alarms"].alias("n_alarms"),
        F.round(folded["smax"], 6).alias("max_cusum"),
    ).orderBy("user_id")


CUSUM_SQL = """
WITH RECURSIVE ev AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_ns(ts) // 1000, event_id)
           AS idx
  FROM events WHERE user_id < 30
), maxidx AS (
  SELECT user_id, MAX(idx) AS mx FROM ev GROUP BY user_id
), rec AS (
  SELECT user_id, 0 AS idx, CAST(0.0 AS DOUBLE) AS s,
         CAST(0 AS BIGINT) AS n_alarms, CAST(0.0 AS DOUBLE) AS smax
  FROM (SELECT DISTINCT user_id FROM ev)
  UNION ALL
  SELECT r.user_id, r.idx + 1,
         GREATEST(0.0, r.s + (e.value - 5.0)),
         r.n_alarms + CASE WHEN GREATEST(0.0, r.s + (e.value - 5.0))
                                > 50.0 THEN 1 ELSE 0 END,
         GREATEST(r.smax, GREATEST(0.0, r.s + (e.value - 5.0)))
  FROM rec r JOIN ev e
    ON e.user_id = r.user_id AND e.idx = r.idx + 1
)
SELECT r.user_id, r.n_alarms, ROUND(r.smax, 6) AS max_cusum
FROM rec r JOIN maxidx m ON r.user_id = m.user_id AND r.idx = m.mx
ORDER BY r.user_id
"""


def feature_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier census: median + MAD (median absolute
    deviation) per event_type and the count of values beyond
    3·1.4826·MAD — the robust alternative to the z-score gate
    (``feature_zscore_winsorize``) that a single wild value cannot
    poison.

    Shape: two grouped EXACT percentile aggregates (median of values,
    then median of absolute deviations after a broadcast join of the
    per-group medians) + one conditional count — three passes keyed on
    the bounded event_type space. Exact percentile sorts per group;
    at 100 TB swap ``percentile_approx`` in (same plan, mergeable
    sketch) — the exact form is the oracle-friendly baseline.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    # the outlier count needs the finished MAD — second keyed pass over
    # dev with the per-group MADs broadcast back
    out = (
        dev.join(
            F.broadcast(
                dev.groupBy("event_type").agg(
                    F.percentile("absdev", F.lit(0.5)).alias("mad")
                )
            ),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.count(
                F.when(
                    F.col("absdev") > 3.0 * 1.4826 * F.col("mad"), 1
                )
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("event_type")
    )
    return out


MAD_OUTLIERS_SQL = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY 1
), dev AS (
  SELECT e.event_type, e.value, m.med,
         ABS(e.value - m.med) AS absdev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, median(absdev) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
       ROUND(ANY_VALUE(d.med), 6) AS med,
       ROUND(ANY_VALUE(m.mad), 6) AS mad,
       CAST(COUNT(*) FILTER (WHERE d.absdev > 3.0 * 1.4826 * m.mad)
            AS BIGINT) AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


def seq_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent behavior sequences: the top-20 event-type TRIGRAMS
    across per-user ordered streams — sequence mining's first rung
    (what do users do in threes?).

    Scale shape: trigram formation is ``lead``/``lead(2)`` over the
    user-keyed time window — ONE shuffle on user_id and a narrow
    projection, never a per-user ``collect_list`` (unbounded array
    state) and never a self-join on adjacency; the count agg keys on
    the bounded trigram space and the top-20 is a TakeOrdered.
    """
    from near_event_streams_spark.plans._common import ts_us

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", ts_us().alias("ts_us"), "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    tri = (
        ev.withColumn("t2", F.lead("event_type", 1).over(w))
        .withColumn("t3", F.lead("event_type", 2).over(w))
        .filter(F.col("t3").isNotNull())
        .select(
            F.concat_ws(
                ">", F.col("event_type"), F.col("t2"), F.col("t3")
            ).alias("trigram")
        )
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("trigram"))
        .limit(20)
    )


def seq_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior:
    P(next event type | current) estimated from per-user ordered
    streams — the behavior model powering next-action prediction and
    synthetic-journey generation.

    One lead over the user-keyed window (single shuffle), pair counts
    on the bounded type×type key, and the row-normalization runs over
    the ≤|types| rows per current state. Probabilities are exact-count
    ratios rounded at 6 dp.
    """
    from near_event_streams_spark.plans._common import ts_us

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", ts_us().alias("ts_us"), "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    # persisted: totals re-aggregates the pair counts and Catalyst does
    # not dedupe the shared window+agg subtree (the measured-non-reuse
    # pattern); the cache is ≤ |types|² rows
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("cur_type"),
            "next_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    totals = pairs.groupBy("cur_type").agg(F.sum("n").alias("row_n"))
    return (
        pairs.join(F.broadcast(totals), "cur_type")
        .select(
            "cur_type",
            "next_type",
            "n",
            # exact integer HALF_UP (see _common.half_up6_*)
            F.expr(half_up6_spark("n", "row_n")).alias("p"),
        )
        .orderBy("cur_type", "next_type")
    )


SEQ_MARKOV_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type
  FROM events
), pairs AS (
  SELECT event_type AS cur_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS next_type
  FROM ev
), counts AS (
  SELECT cur_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE next_type IS NOT NULL
  GROUP BY cur_type, next_type
), totals AS (
  SELECT cur_type, CAST(SUM(n) AS BIGINT) AS row_n
  FROM counts GROUP BY cur_type
)
SELECT c.cur_type, c.next_type, c.n,
       {half_up6_duck("c.n", "t.row_n")} AS p
FROM counts c JOIN totals t USING (cur_type)
ORDER BY c.cur_type, c.next_type
"""


SEQ_TRIGRAMS_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type
  FROM events
), tri AS (
  SELECT event_type || '>' ||
         LEAD(event_type, 1) OVER w || '>' ||
         LEAD(event_type, 2) OVER w AS trigram,
         LEAD(event_type, 2) OVER w AS t3
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
FROM tri WHERE t3 IS NOT NULL
GROUP BY trigram
ORDER BY n DESC, trigram
LIMIT 20
"""


def diff_snapshots_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (``operators/reconcile.py:snapshot_diff``)
    between two synthetic versions of the orders table — "old" lacks
    every 7th order (late arrivals ⇒ added), "new" restates every 5th
    order's priority (updates ⇒ changed) and drops every 11th order
    (retractions ⇒ removed) — summarized to per-status counts, all
    four statuses exercised. One full-outer key shuffle; comparison is
    null-safe codegen."""
    from near_event_streams_spark.operators.reconcile import snapshot_diff

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % 7 != 0)
    new = o.filter(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.lit("9-RESTATED")
        ).otherwise(F.col("o_orderpriority")),
    )
    d = snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderpriority", "o_totalprice"]
    )
    return (
        d.groupBy("diff_status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("diff_status")
    )


DIFF_SNAPSHOTS_SQL = """
WITH old AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
  WHERE o_orderkey % 7 != 0
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN '9-RESTATED'
              ELSE o_orderpriority END AS o_orderpriority,
         o_totalprice
  FROM orders WHERE o_orderkey % 11 != 0
), j AS (
  SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS k,
    CASE
      WHEN old.o_orderkey IS NULL THEN 'added'
      WHEN new.o_orderkey IS NULL THEN 'removed'
      WHEN old.o_orderpriority IS NOT DISTINCT FROM new.o_orderpriority
       AND old.o_totalprice IS NOT DISTINCT FROM new.o_totalprice
        THEN 'unchanged'
      ELSE 'changed'
    END AS diff_status
  FROM old FULL JOIN new ON old.o_orderkey = new.o_orderkey
)
SELECT diff_status, CAST(COUNT(*) AS BIGINT) AS n
FROM j GROUP BY diff_status ORDER BY diff_status
"""


def dq_audit_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit over the warehouse tables: referential-orphan
    counts (anti-joins), duplicate-key counts, null-rate and
    domain-violation counts — the contract checks a pipeline runs
    before publishing a snapshot. One row per check:
    ``(check_name, n_violations, n_total, ok)``.

    Scale shape: every check is either a single aggregate over a
    column-pruned scan or a LEFT ANTI join on the FK key (shuffle
    hash/broadcast as sizes dictate, AQE-decided); checks are
    independent one-row aggregates unioned at the end — nothing is
    ever collected wide.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")

    def one(name: str, viol, total) -> DataFrame:
        return viol.crossJoin(F.broadcast(total)).select(
            F.lit(name).alias("check_name"),
            F.col("nv").alias("n_violations"),
            F.col("nt").alias("n_total"),
            (F.col("nv") == 0).alias("ok"),
        )

    orders_orphan = one(
        "orders_custkey_orphans",
        o.join(
            c.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("nv")),
        o.agg(F.count(F.lit(1)).alias("nt")),
    )
    li_orphan = one(
        "lineitem_orderkey_orphans",
        li.join(
            o.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("nv")),
        li.agg(F.count(F.lit(1)).alias("nt")),
    )
    dup_orders = one(
        "orders_orderkey_duplicates",
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.coalesce(F.sum("k"), F.lit(0)).alias("nv")),
        o.agg(F.count(F.lit(1)).alias("nt")),
    )
    ev_null_user = one(
        "events_null_user",
        ev.agg(
            F.count(F.when(F.col("user_id").isNull(), 1)).alias("nv")
        ),
        ev.agg(F.count(F.lit(1)).alias("nt")),
    )
    ev_value_domain = one(
        "events_negative_value",
        ev.agg(F.count(F.when(F.col("value") < 0, 1)).alias("nv")),
        ev.agg(F.count(F.lit(1)).alias("nt")),
    )
    li_qty_domain = one(
        "lineitem_nonpositive_qty",
        li.agg(F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("nv")),
        li.agg(F.count(F.lit(1)).alias("nt")),
    )
    return (
        orders_orphan.unionByName(li_orphan)
        .unionByName(dup_orders)
        .unionByName(ev_null_user)
        .unionByName(ev_value_domain)
        .unionByName(li_qty_domain)
        .orderBy("check_name")
    )


DQ_AUDIT_SQL = """
WITH checks AS (
  SELECT 'orders_custkey_orphans' AS check_name,
    CAST((SELECT COUNT(*) FROM orders o
          WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer))
      AS BIGINT) AS n_violations,
    CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_total
  UNION ALL
  SELECT 'lineitem_orderkey_orphans',
    CAST((SELECT COUNT(*) FROM lineitem l
          WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders))
      AS BIGINT),
    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
  UNION ALL
  SELECT 'orders_orderkey_duplicates',
    CAST(COALESCE((SELECT SUM(k) FROM (
        SELECT COUNT(*) AS k FROM orders GROUP BY o_orderkey
        HAVING COUNT(*) > 1)), 0) AS BIGINT),
    CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
  UNION ALL
  SELECT 'events_null_user',
    CAST((SELECT COUNT(*) FILTER (WHERE user_id IS NULL) FROM events)
      AS BIGINT),
    CAST((SELECT COUNT(*) FROM events) AS BIGINT)
  UNION ALL
  SELECT 'events_negative_value',
    CAST((SELECT COUNT(*) FILTER (WHERE value < 0) FROM events)
      AS BIGINT),
    CAST((SELECT COUNT(*) FROM events) AS BIGINT)
  UNION ALL
  SELECT 'lineitem_nonpositive_qty',
    CAST((SELECT COUNT(*) FILTER (WHERE l_quantity <= 0) FROM lineitem)
      AS BIGINT),
    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
)
SELECT check_name, n_violations, n_total, n_violations = 0 AS ok
FROM checks
ORDER BY check_name
"""


def dq_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling: does determinant → dependent
    hold, and over how many violating keys — the schema-inference /
    constraint-discovery check a warehouse runs on candidate keys.
    One key-grouped distinct-count per FD (shuffles on the determinant,
    map-side partial), then a one-row census; FDs union at the end."""

    def fd(df: DataFrame, name: str, det: str, dep: str) -> DataFrame:
        per = df.groupBy(det).agg(F.countDistinct(dep).alias("nd"))
        return per.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.count(F.when(F.col("nd") > 1, 1)).alias(
                "n_violating_keys"
            ),
        ).select(
            F.lit(name).alias("fd"),
            "n_keys",
            "n_violating_keys",
            (F.col("n_violating_keys") == 0).alias("holds"),
        )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    return (
        fd(o, "orders: orderkey->custkey", "o_orderkey", "o_custkey")
        .unionByName(
            fd(
                li,
                "lineitem: orderkey->returnflag",
                "l_orderkey",
                "l_returnflag",
            )
        )
        .unionByName(
            fd(ev, "events: user->event_type", "user_id", "event_type")
        )
        .orderBy("fd")
    )


DQ_FUNCTIONAL_SQL = """
WITH f1 AS (
  SELECT 'orders: orderkey->custkey' AS fd,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(COUNT(*) FILTER (WHERE nd > 1) AS BIGINT)
           AS n_violating_keys
  FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS nd
        FROM orders GROUP BY o_orderkey)
), f2 AS (
  SELECT 'lineitem: orderkey->returnflag',
         CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) FILTER (WHERE nd > 1) AS BIGINT)
  FROM (SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS nd
        FROM lineitem GROUP BY l_orderkey)
), f3 AS (
  SELECT 'events: user->event_type',
         CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) FILTER (WHERE nd > 1) AS BIGINT)
  FROM (SELECT user_id, COUNT(DISTINCT event_type) AS nd
        FROM events GROUP BY user_id)
), u AS (
  SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL
  SELECT * FROM f3
)
SELECT fd, n_keys, n_violating_keys, n_violating_keys = 0 AS holds
FROM u ORDER BY fd
"""


def hist_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals in 20 buckets over the
    observed [min, max] — the profiling staple. Bounds come from ONE
    scalar aggregate broadcast back; bucket assignment is pure
    arithmetic (floor BOTH engines — Spark casts truncate but DuckDB
    casts round, the verify-skill gotcha); the final agg keys on ≤21
    bucket ids. Empty buckets are kept via a sequence spine so the
    histogram shape is complete.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("v")
    )
    bounds = F.broadcast(
        o.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(20.0)
    bucket = F.least(
        F.floor((F.col("v") - F.col("lo")) / width).cast("long"),
        F.lit(19).cast("long"),
    )
    counts = (
        o.crossJoin(bounds)
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = bounds.select(
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("bucket"),
        "lo",
        "hi",
    )
    return (
        spine.join(counts, "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.round(
                F.col("lo")
                + F.col("bucket") * (F.col("hi") - F.col("lo")) / 20.0,
                6,
            ).alias("bucket_lo"),
            F.coalesce("n", F.lit(0).cast("long")).alias("n"),
        )
        .orderBy("bucket")
    )


HIST_ORDER_SQL = """
WITH o AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
), bounds AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi FROM o
), counts AS (
  SELECT LEAST(CAST(floor((v - lo) / ((hi - lo) / 20.0)) AS BIGINT),
               CAST(19 AS BIGINT)) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM o, bounds GROUP BY 1
), spine AS (
  SELECT CAST(k AS BIGINT) AS bucket, lo, hi
  FROM bounds, unnest(range(0, 20)) t(k)
)
SELECT bucket,
       ROUND(lo + bucket * (hi - lo) / 20.0, 6) AS bucket_lo,
       COALESCE(n, 0) AS n
FROM spine LEFT JOIN counts USING (bucket)
ORDER BY bucket
"""


def diag_key_skew_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic (``operators/skew.py:key_skew_profile``) on
    the event stream's user_id — the report read before choosing
    salting or AQE skew hints for a key. One key-count agg + TakeOrdered
    top-10 + broadcast totals; the rank/cumsum window sees 10 rows."""
    from near_event_streams_spark.operators.skew import key_skew_profile

    ev = _t(spark, sf_dir, "events")
    return key_skew_profile(ev, "user_id", top_k=10)


DIAG_KEY_SKEW_SQL = f"""
WITH counts AS (
  SELECT user_id AS key, COUNT(*) AS cnt FROM events GROUP BY 1
), totals AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM counts
), top AS (
  SELECT key, cnt FROM counts ORDER BY cnt DESC, key LIMIT 10
), ranked AS (
  SELECT key, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, key) AS BIGINT)
           AS rank,
         SUM(cnt) OVER (ORDER BY cnt DESC, key
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum_cnt
  FROM top
)
SELECT rank, key, CAST(cnt AS BIGINT) AS cnt, n_rows, n_keys,
  {half_up6_duck("cnt*100", "n_rows")}
    AS share_pct,
  {half_up6_duck("cum_cnt*100", "n_rows")}
    AS cum_share_pct
FROM ranked, totals
ORDER BY rank
"""


def join_salted_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe join through ``operators/skew.salted_join`` — the
    prescriptive twin of the ``diag_key_skew_users`` diagnostic: the
    skewed event stream (big side) joins the customer dim replicated
    across 8 salt ids, so one hot ``user_id`` spreads over 8 shuffle
    partitions instead of funnelling into one task (for when the dim is
    too large to broadcast AND a single key exceeds what AQE's skew
    split can fix). Salting is semantics-preserving: the random salt
    column never escapes the join, so the per-(segment, type) rollup
    oracle-matches the PLAIN join bit-for-bit — exact decimal value
    sums, one cast to double at the end."""
    from near_event_streams_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, "user_id", salt=8)
    return (
        joined.groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .orderBy("c_mktsegment", "event_type")
    )


JOIN_SALTED_SQL = """
SELECT c_mktsegment, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


def hopping_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregation in batch: 1-hour windows
    every 15 minutes over the event stream, per event type, via
    Spark's native ``F.window(ts, "1 hour", "15 minutes")``.

    Each event lands in exactly 4 windows (the built-in does the
    explode); the aggregate is one hash agg on the (window, type) key
    with exact-decimal sums. The window keyspace is calendar-bounded —
    at 100 TB the fan-out is a fixed 4× and the agg output stays tiny.
    The oracle replays the epoch-aligned window arithmetic on micros.
    """
    ev = _t(spark, sf_dir, "events")
    win = ev.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(dec("value"), "total_value"),
    )
    return win.select(
        F.unix_micros(F.col("w.start").cast("timestamp")).alias(
            "window_start_us"
        ),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("window_start_us", "event_type")


HOPPING_WINDOW_SQL = """
WITH ev AS (
  SELECT event_type, value, epoch_ns(ts) // 1000 AS ts_us FROM events
), placed AS (
  SELECT event_type, value,
         (ts_us // 900000000 - k) * 900000000 AS window_start_us
  FROM ev, unnest(range(0, 4)) t(k)
)
SELECT window_start_us, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM placed
GROUP BY window_start_us, event_type
ORDER BY window_start_us, event_type
"""


def join_asof_forward_tolerance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FORWARD as-of join with tolerance: each purchase matched to the
    user's FIRST error event at-or-after it, but only within 30 minutes
    — the complement of ``join_asof_purchase_click``'s backward match.

    Same scalable shape: tagged union + a forward-looking
    ``first(…, ignorenulls)`` window — ONE shuffle on user_id, no cross
    product. Ties pinned: a same-instant error sorts after the purchase
    and is therefore visible to it. Matches beyond the tolerance are
    nulled, not dropped — the row set stays exactly the purchases.
    """
    from near_event_streams_spark.plans._common import ts_us

    tol_us = 30 * 60 * 1_000_000
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    tagged = ev.select(
        "user_id",
        "event_id",
        ts_us().alias("ts_us"),
        F.when(F.col("event_type") == "purchase", F.lit(0))
        .otherwise(F.lit(1))
        .alias("src"),
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "src", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    err_ts = F.first(
        F.when(F.col("src") == 1, F.col("ts_us")), ignorenulls=True
    ).over(wf)
    err_id = F.first(
        F.when(F.col("src") == 1, F.col("event_id")), ignorenulls=True
    ).over(wf)
    # the tolerance mask must read the MATERIALIZED _ets column — reusing
    # the window expression after filter(src=0) would re-evaluate it over
    # the purchases-only frame, where no error rows remain
    in_tol = (F.col("_ets") - F.col("ts_us")) <= tol_us
    return (
        tagged.withColumn("_ets", err_ts)
        .withColumn("_eid", err_id)
        .filter(F.col("src") == 0)
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts_us").alias("purchase_ts_us"),
            F.when(in_tol, F.col("_eid")).alias("next_error_id"),
            F.when(in_tol, F.col("_ets")).alias("next_error_ts_us"),
        )
        .orderBy("purchase_id")
    )


ASOF_FORWARD_SQL = """
WITH tagged AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
         CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS src
  FROM events WHERE event_type IN ('purchase', 'error')
), matched AS (
  SELECT user_id, event_id, ts_us, src,
    first_value(CASE WHEN src = 1 THEN ts_us END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts_us, src, event_id
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ets,
    first_value(CASE WHEN src = 1 THEN event_id END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts_us, src, event_id
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS eid
  FROM tagged
)
SELECT user_id, event_id AS purchase_id, ts_us AS purchase_ts_us,
  CASE WHEN ets - ts_us <= 1800000000 THEN eid END AS next_error_id,
  CASE WHEN ets - ts_us <= 1800000000 THEN ets END AS next_error_ts_us
FROM matched WHERE src = 0
ORDER BY purchase_id
"""


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join: each purchase matched to the user's closest
    click in EITHER direction within 30 minutes — completing the as-of
    family (backward `join_asof_purchase_click`, forward
    `join_asof_forward_tolerance`). Ties (equidistant click before and
    after) resolve BACKWARD, the causal choice; a same-instant click
    counts as backward with distance 0.

    Same scalable shape as both siblings: tagged union, ONE shuffle on
    user_id, and the backward-last + forward-first windows share that
    single exchange (same partitioning and ordering) — no self-join,
    no cross product, hot users are one partition's sort not a
    quadratic blowup."""
    from near_event_streams_spark.plans._common import ts_us

    tol_us = 30 * 60 * 1_000_000
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    # click src=0 sorts BEFORE a same-ts purchase: same-instant clicks
    # are visible to the backward frame and excluded from the forward
    tagged = ev.select(
        "user_id",
        "event_id",
        ts_us().alias("ts_us"),
        F.when(F.col("event_type") == "click", F.lit(0))
        .otherwise(F.lit(1))
        .alias("src"),
    )
    order = ["ts_us", "src", "event_id"]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    c_ts = F.when(F.col("src") == 0, F.col("ts_us"))
    c_id = F.when(F.col("src") == 0, F.col("event_id"))
    m = (
        tagged.withColumn("_bts", F.last(c_ts, ignorenulls=True).over(wb))
        .withColumn("_bid", F.last(c_id, ignorenulls=True).over(wb))
        .withColumn("_fts", F.first(c_ts, ignorenulls=True).over(wf))
        .withColumn("_fid", F.first(c_id, ignorenulls=True).over(wf))
        .filter(F.col("src") == 1)
    )
    bdist = F.col("ts_us") - F.col("_bts")
    fdist = F.col("_fts") - F.col("ts_us")
    b_ok = F.col("_bts").isNotNull() & (bdist <= tol_us)
    f_ok = F.col("_fts").isNotNull() & (fdist <= tol_us)
    use_b = b_ok & (~f_ok | (bdist <= fdist))
    use_f = f_ok & ~use_b
    return m.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("purchase_ts_us"),
        F.when(use_b, F.col("_bid"))
        .when(use_f, F.col("_fid"))
        .alias("nearest_click_id"),
        F.when(use_b, bdist).when(use_f, fdist).alias("dist_us"),
        F.when(use_b, F.lit("back"))
        .when(use_f, F.lit("fwd"))
        .alias("direction"),
    ).orderBy("purchase_id")


ASOF_NEAREST_SQL = """
WITH tagged AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS src
  FROM events WHERE event_type IN ('purchase', 'click')
), m AS (
  SELECT user_id, event_id, ts_us, src,
    last_value(CASE WHEN src = 0 THEN ts_us END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts_us, src, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bts,
    last_value(CASE WHEN src = 0 THEN event_id END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts_us, src, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bid,
    first_value(CASE WHEN src = 0 THEN ts_us END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts_us, src, event_id
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fts,
    first_value(CASE WHEN src = 0 THEN event_id END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts_us, src, event_id
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fid
  FROM tagged
), p AS (
  SELECT *,
    bts IS NOT NULL AND ts_us - bts <= 1800000000 AS b_ok,
    fts IS NOT NULL AND fts - ts_us <= 1800000000 AS f_ok
  FROM m WHERE src = 1
), d AS (
  SELECT *,
    b_ok AND (NOT f_ok OR ts_us - bts <= fts - ts_us) AS use_b
  FROM p
)
SELECT user_id, event_id AS purchase_id, ts_us AS purchase_ts_us,
  CASE WHEN use_b THEN bid WHEN f_ok THEN fid END AS nearest_click_id,
  CASE WHEN use_b THEN ts_us - bts
       WHEN f_ok THEN fts - ts_us END AS dist_us,
  CASE WHEN use_b THEN 'back' WHEN f_ok THEN 'fwd' END AS direction
FROM d
ORDER BY purchase_id
"""


def mixture_temperature_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled source mixture at α = 0.5: sampling weight
    ``w_i = √n_i / Σ√n_j`` — the standard temperature re-weighting that
    up-samples small sources relative to proportional mixing (α=1, the
    ``mixture_weighted_sources`` family). α=0.5 is the EXACTLY
    REPRODUCIBLE member of the family: sqrt is IEEE correctly-rounded
    on both engines while fractional ``pow`` is libm-dependent; the
    Σ√n total folds over a SORTED list so float summation order is
    pinned. Expected docs in a 100k budget round HALF-AWAY from the
    6dp weight (exact dyadic .5 ties — both engines agree)."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = counts.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.sqrt(F.col("n_docs")))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("tot_sqrt")
    )
    w = F.round(F.sqrt(F.col("n_docs")) / F.col("tot_sqrt"), 6)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            w.alias("weight"),
            F.round(w * 100000.0)
            .cast("bigint")
            .alias("expected_docs_100k"),
        )
        .orderBy("source")
    )


MIXTURE_TEMP_SQL = """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
), tot AS (
  SELECT list_reduce(
           list_prepend(0.0, list_sort(list(sqrt(CAST(n_docs AS DOUBLE))))),
           (acc, x) -> acc + x) AS tot_sqrt
  FROM counts
)
SELECT source, n_docs,
       ROUND(sqrt(CAST(n_docs AS DOUBLE)) / tot_sqrt, 6) AS weight,
       CAST(ROUND(ROUND(sqrt(CAST(n_docs AS DOUBLE)) / tot_sqrt, 6)
                  * 100000.0) AS BIGINT) AS expected_docs_100k
FROM counts CROSS JOIN tot
ORDER BY source
"""


def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from a change stream: each user's
    event_type is treated as a changing attribute; consecutive repeats
    collapse, and each surviving change becomes a validity interval
    ``[effective_from_us, effective_to_us)`` with an ``is_current``
    flag — the standard CDC → warehouse-dimension transformation.

    Plan shape: ONE shuffle on the dimension key (user_id); the
    change-collapse lag and the interval-closing lead share the same
    window partitioning, so Spark reuses a single exchange (the
    window-suite plan gate pattern). No self-joins — the naive
    "join next change" formulation would shuffle twice and skew on hot
    keys.
    """
    from near_event_streams_spark.plans._common import ts_us

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 15)
        .select(
            "user_id", "event_id", ts_us().alias("ts_us"), "event_type"
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changed = ev.withColumn(
        "_prev", F.lag("event_type").over(w)
    ).filter(
        F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        changed.withColumn("_next_from", F.lead("ts_us").over(w2))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts_us").alias("effective_from_us"),
            F.coalesce(F.col("_next_from"), F.lit(None)).alias(
                "effective_to_us"
            ),
            F.col("_next_from").isNull().alias("is_current"),
        )
        .orderBy("user_id", "effective_from_us")
    )


SCD2_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type
  FROM events WHERE user_id < 15
), changed AS (
  SELECT * FROM (
    SELECT user_id, event_id, ts_us, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS prev
    FROM ev
  ) WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type AS state,
       ts_us AS effective_from_us,
       LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         AS effective_to_us,
       LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         IS NULL AS is_current
FROM changed
ORDER BY user_id, effective_from_us
"""


def join_pointintime_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join against the SCD2 dimension: each
    purchase event picks the state interval valid AT its event time —
    ``from <= ts AND (to IS NULL OR ts < to)`` — the classic
    as-of-dimension lookup every warehouse fact load runs.

    Scale shape: the join is EQUI on user_id with the interval predicate
    as a residual filter — per-user interval counts are bounded by that
    user's change history, so this is an ordinary key join (AQE-skewable),
    never a cartesian and never a global range join. A purchase that is
    itself a state change matches its own interval (from == ts
    inclusive), pinning the boundary semantics.
    """
    from near_event_streams_spark.plans._common import ts_us

    states = scd2_user_state(spark, sf_dir).select(
        "user_id",
        F.col("state").alias("state_at_purchase"),
        "effective_from_us",
        "effective_to_us",
    )
    purchases = (
        _t(spark, sf_dir, "events")
        .filter(
            (F.col("user_id") < 15) & (F.col("event_type") == "purchase")
        )
        .select("user_id", F.col("event_id").alias("purchase_id"),
                ts_us().alias("ts_us"))
    )
    return (
        purchases.join(states, "user_id")
        .filter(
            (F.col("ts_us") >= F.col("effective_from_us"))
            & (
                F.col("effective_to_us").isNull()
                | (F.col("ts_us") < F.col("effective_to_us"))
            )
        )
        .select(
            "purchase_id",
            "user_id",
            "ts_us",
            "state_at_purchase",
            "effective_from_us",
        )
        .orderBy("purchase_id")
    )


POINTINTIME_SCD2_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type
  FROM events WHERE user_id < 15
), changed AS (
  SELECT * FROM (
    SELECT user_id, event_id, ts_us, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS prev
    FROM ev
  ) WHERE prev IS NULL OR prev <> event_type
), states AS (
  SELECT user_id, event_type AS state_at_purchase,
         ts_us AS effective_from_us,
         LEAD(ts_us) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS effective_to_us
  FROM changed
), purchases AS (
  SELECT user_id, event_id AS purchase_id, ts_us
  FROM ev WHERE event_type = 'purchase'
)
SELECT purchase_id, p.user_id, ts_us, state_at_purchase,
       effective_from_us
FROM purchases p JOIN states s ON p.user_id = s.user_id
WHERE ts_us >= effective_from_us
  AND (effective_to_us IS NULL OR ts_us < effective_to_us)
ORDER BY purchase_id
"""


def feature_zscore_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise feature prep: per-event-type z-score + 2σ winsorize
    (clip) + outlier flag — the numeric-column normalization pass of a
    feature pipeline.

    Moments come from EXACT decimal sums evaluated in double with the
    same IEEE op sequence as the oracle (plain double aggregation would
    drift with engine summation order — same trick as
    ``agg_value_stats``). Plan shape: one hash agg on the bounded
    event_type key, the 5-row stats table broadcasts back, and the
    normalize/clip is a narrow map. Rows bounded to user_id < 10 to keep
    the gated output small; the operator itself is corpus-wide.
    """
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.sum(dec("value")).cast("double").alias("_s"),
        F.sum(dec("value", 12, 2) * dec("value", 12, 2))
        .cast("double")
        .alias("_s2"),
        F.count(F.lit(1)).alias("n"),
    )
    n = F.col("n").cast("double")
    st = g.select(
        "event_type",
        (F.col("_s") / n).alias("avg_v"),
        F.sqrt(
            (F.col("_s2") - F.col("_s") * F.col("_s") / n) / (n - F.lit(1.0))
        ).alias("std_v"),
    )
    z = (F.col("value") - F.col("avg_v")) / F.col("std_v")
    lo = F.col("avg_v") - 2.0 * F.col("std_v")
    hi = F.col("avg_v") + 2.0 * F.col("std_v")
    return (
        ev.filter(F.col("user_id") < 10)
        .join(F.broadcast(st), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("zscore"),
            F.round(
                F.when(F.col("value") < lo, lo)
                .when(F.col("value") > hi, hi)
                .otherwise(F.col("value")),
                6,
            ).alias("value_winsorized"),
            (F.abs(z) > 2.0).alias("is_outlier"),
        )
        .orderBy("event_id")
    )


FEATURE_ZSCORE_SQL = """
WITH g AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s,
         CAST(SUM(CAST(value AS DECIMAL(12,2))
                  * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s2,
         COUNT(*) AS n
  FROM events GROUP BY event_type
), st AS (
  SELECT event_type,
         s / CAST(n AS DOUBLE) AS avg_v,
         sqrt((s2 - s * s / CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) - 1.0)) AS std_v
  FROM g
)
SELECT e.event_id, e.event_type, e.value,
  ROUND((e.value - avg_v) / std_v, 6) AS zscore,
  ROUND(CASE WHEN e.value < avg_v - 2.0 * std_v THEN avg_v - 2.0 * std_v
             WHEN e.value > avg_v + 2.0 * std_v THEN avg_v + 2.0 * std_v
             ELSE e.value END, 6) AS value_winsorized,
  ABS((e.value - avg_v) / std_v) > 2.0 AS is_outlier
FROM events e JOIN st USING (event_type)
WHERE e.user_id < 10
ORDER BY e.event_id
"""


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join via bin equi-join
    (``operators/rangejoin.py:interval_overlap_join``): per-user daily
    activity spans × 10-minute windows around high-value error events —
    how many incident windows each user-day brushed against.

    Scale shape: both interval sets explode onto fixed-width time bins
    and meet in an ordinary shuffle equi-join (plan-gated: no nested
    loop, no cartesian); the exact overlap predicate prunes boundary
    false positives and each pair is emitted only from its first shared
    bin, so multi-bin meetings never duplicate (no distinct shuffle).
    """
    from near_event_streams_spark.operators.rangejoin import (
        interval_overlap_join,
    )
    from near_event_streams_spark.plans._common import ts_us

    ev = _t(spark, sf_dir, "events")
    spans = (
        ev.filter(F.col("user_id") < 30)
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.min(ts_us()).alias("span_start"),
            F.max(ts_us()).alias("span_end"),
        )
    )
    win_us = 10 * 60 * 1_000_000
    wins = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") >= 9.5)
    ).select(
        "event_id",
        (ts_us() - win_us).alias("win_start"),
        (ts_us() + win_us).alias("win_end"),
    )
    pairs = interval_overlap_join(
        spans,
        wins,
        "span_start",
        "span_end",
        "win_start",
        "win_end",
        bin_width=2 * win_us,
    )
    return (
        pairs.groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("n_error_windows"))
        .orderBy("user_id", "day")
    )


INTERVAL_OVERLAP_SQL = """
WITH spans AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         MIN(epoch_ns(ts) // 1000) AS span_start,
         MAX(epoch_ns(ts) // 1000) AS span_end
  FROM events WHERE user_id < 30
  GROUP BY user_id, CAST(ts AS DATE)
), wins AS (
  SELECT event_id,
         epoch_ns(ts) // 1000 - 600000000 AS win_start,
         epoch_ns(ts) // 1000 + 600000000 AS win_end
  FROM events WHERE event_type = 'error' AND value >= 9.5
)
SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_error_windows
FROM spans JOIN wins
  ON span_start <= win_end AND win_start <= span_end
GROUP BY user_id, day
ORDER BY user_id, day
"""


# --------------------------------------------------------------------------
# Data layout: Z-order clustering audit.
# --------------------------------------------------------------------------


def layout_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit over orders(custkey, orderkey):
    rows bucketed by the TOP 6 BITS of their Z-key — i.e. the 64 spatial
    quadrants a Z-clustered file layout would produce — with each
    quadrant's min/max span on BOTH dimensions.

    The point of the layout: sort by one column and every file spans the
    other's full range; Z-cluster and each file covers a small (x, y)
    rectangle, so parquet min/max pruning works for predicates on either
    column. The quadrant spans here are exactly those per-file stats.
    Plan shape: corpus bounds are one broadcast scalar aggregate; the
    key is a narrow bit-interleave inside codegen (no windows, no
    range shuffle); the audit is one hash agg on the bounded 64-value
    quadrant key.
    """
    from near_event_streams_spark.sinks.parquet_sink import zorder_key

    orders = _t(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_custkey").alias("xlo"),
        F.max("o_custkey").alias("xhi"),
        F.min("o_orderkey").alias("ylo"),
        F.max("o_orderkey").alias("yhi"),
    )
    keyed = orders.crossJoin(F.broadcast(bounds)).withColumn(
        "zkey",
        zorder_key(
            F.col("o_custkey"),
            F.col("o_orderkey"),
            (F.col("xlo"), F.col("xhi")),
            (F.col("ylo"), F.col("yhi")),
            bits=16,
        ),
    )
    return (
        keyed.withColumn("quadrant", F.shiftright("zkey", 26))
        .groupBy("quadrant")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.max("o_custkey") - F.min("o_custkey")).alias("x_span"),
            (F.max("o_orderkey") - F.min("o_orderkey")).alias("y_span"),
        )
        .orderBy("quadrant")
    )


ZORDER_SQL = """
WITH b AS (
  SELECT MIN(o_custkey) AS xlo, MAX(o_custkey) AS xhi,
         MIN(o_orderkey) AS ylo, MAX(o_orderkey) AS yhi
  FROM orders
), s AS (
  SELECT o_orderkey, o_custkey,
    CAST(floor((o_custkey - xlo) * 65535 / (xhi - xlo)) AS BIGINT) AS sx,
    CAST(floor((o_orderkey - ylo) * 65535 / (yhi - ylo)) AS BIGINT) AS sy
  FROM orders, b
), z AS (
  SELECT o_orderkey, o_custkey,
    list_sum(list_transform(range(0, 16), bb ->
      ((sx >> bb) & 1) * (CAST(1 AS BIGINT) << (2 * bb))
      + ((sy >> bb) & 1) * (CAST(1 AS BIGINT) << (2 * bb + 1))))
      AS zkey
  FROM s
)
SELECT CAST(zkey >> 26 AS BIGINT) AS quadrant,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(o_custkey) - MIN(o_custkey) AS BIGINT) AS x_span,
       CAST(MAX(o_orderkey) - MIN(o_orderkey) AS BIGINT) AS y_span
FROM z
GROUP BY quadrant
ORDER BY quadrant
"""


def stats_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation + least-squares regression of extended price on
    quantity per return flag — the corr/covar/regr_* aggregate family,
    formulated through EXACT decimal moments so both engines agree
    bit-for-bit: the five sums (Σx, Σy, Σx², Σy², Σxy) accumulate as
    exact decimals (2dp inputs ⇒ 4dp products, zero float-order
    dependence), collapse to doubles ONCE, and the closed forms
    (slope = (nΣxy−ΣxΣy)/(nΣx²−Σx²), corr = cov/√(varx·vary)) run the
    same few flops in the same shape on both sides. One hash agg over
    a pruned 3-column scan."""
    li = _t(spark, sf_dir, "lineitem")
    q = dec("l_quantity")
    p = dec("l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sx"),
        F.sum(p).alias("sy"),
        F.sum(q * q).alias("sxx"),
        F.sum(p * p).alias("syy"),
        F.sum(q * p).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    slope = cov_n / varx_n
    return g.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.round(cov_n / F.sqrt(varx_n * vary_n), 6).alias("corr_qty_price"),
        F.round(slope, 6).alias("regr_slope"),
        F.round((sy - slope * sx) / n, 6).alias("regr_intercept"),
    ).orderBy("l_returnflag")


STATS_CORR_SQL = """
WITH g AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n AS n_rows,
       ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
         AS corr_qty_price,
       ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS regr_slope,
       ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
             / CAST(n AS DOUBLE), 6) AS regr_intercept
FROM g ORDER BY l_returnflag
"""


def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group (most frequent user per event
    type, ties to the smallest user id) — built from a count aggregate
    + per-group rank window instead of the engines' native ``mode()``
    whose tie-breaking is unspecified and therefore un-oracle-able.
    The rank window partitions by event_type over the already-reduced
    (type, user) counts, never the raw events."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("cnt"), F.asc("user_id")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("user_id").alias("mode_user_id"),
            F.col("cnt").alias("n_events"),
        )
        .orderBy("event_type")
    )


AGG_MODE_SQL = """
WITH counts AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY cnt DESC, user_id) AS rn
  FROM counts
)
SELECT event_type, user_id AS mode_user_id, cnt AS n_events
FROM ranked WHERE rn = 1 ORDER BY event_type
"""


def seq_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user (the classic ``date − row_number()`` grouping trick), keeping
    islands of 3+ days — the streak/retention primitive. Work shape:
    one distinct on (user, day), one user-partitioned rank window over
    the per-user day counts, one island aggregate — all keyed on
    user_id, no self-join."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    return (
        grp.groupBy("user_id", "anchor")
        .agg(
            F.min("d").alias("island_start"),
            F.max("d").alias("island_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .filter(F.col("n_days") >= 3)
        .select("user_id", "island_start", "island_end", "n_days")
        .orderBy("user_id", "island_start")
    )


SEQ_ISLANDS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), grp AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS anchor
  FROM days
)
SELECT user_id, MIN(d) AS island_start, MAX(d) AS island_end,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM grp GROUP BY user_id, anchor
HAVING COUNT(*) >= 3
ORDER BY user_id, island_start
"""


def url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL function family (``parse_url`` HOST/PATH/QUERY/REF and a
    query-parameter extract) over URLs synthesized from document
    columns — the reference corpus has no URL column, so the query
    builds a canonical one per doc and pins that parsing round-trips
    every component. The oracle reconstructs components from the same
    concat inputs (the URL grammar is under our control), so Spark's
    java.net.URI semantics are checked against plain string algebra."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&page=1#s"),
        (F.col("doc_id") % 5).cast("string"),
    )
    d = docs.select("doc_id", url.alias("url"))
    return d.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("REF")).alias("fragment"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias(
            "lang_param"
        ),
    ).orderBy("doc_id")


URL_FUNCTIONS_SQL = """
SELECT doc_id,
       source || '.example.com' AS host,
       '/docs/' || CAST(doc_id AS VARCHAR) AS path,
       'lang=' || lang || '&page=1' AS query,
       's' || CAST(doc_id % 5 AS VARCHAR) AS fragment,
       lang AS lang_param
FROM documents
ORDER BY doc_id
"""


def string_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance function family: full nation × region name
    cross (25×5, broadcast — fuzzy matching against a small gazetteer,
    the standard blocking-free record-linkage shape for bounded dims)
    with ``levenshtein`` distance and the derived normalized
    similarity; keeps each nation's best-matching region (ties to the
    lexicographically first region name)."""
    n = _t(spark, sf_dir, "nation").select("n_name")
    r = _t(spark, sf_dir, "region").select("r_name")
    lev = F.levenshtein("n_name", "r_name")
    sim = F.round(
        F.lit(1.0)
        - lev.cast("double")
        / F.greatest(F.length("n_name"), F.length("r_name")).cast(
            "double"
        ),
        6,
    )
    scored = n.crossJoin(F.broadcast(r)).select(
        "n_name", "r_name", lev.alias("lev"), sim.alias("sim")
    )
    w = Window.partitionBy("n_name").orderBy(F.asc("lev"), F.asc("r_name"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("n_name", "r_name", "lev", "sim")
        .orderBy("n_name")
    )


STRING_FUZZY_SQL = """
WITH scored AS (
  SELECT n_name, r_name,
         CAST(levenshtein(n_name, r_name) AS INT) AS lev,
         ROUND(1.0 - CAST(levenshtein(n_name, r_name) AS DOUBLE)
               / CAST(greatest(len(n_name), len(r_name)) AS DOUBLE), 6)
           AS sim
  FROM nation CROSS JOIN region
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY n_name
                               ORDER BY lev, r_name) AS rn
  FROM scored
)
SELECT n_name, r_name, lev, sim FROM ranked WHERE rn = 1
ORDER BY n_name
"""


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics through the versioned bucket store
    (``streaming/upsert.merge_upsert``), driver-gated end-to-end: a
    base snapshot (even order keys, seq 1) takes a change batch
    (multiples of 4 re-priced as UPDATES, odd keys as INSERTS, seq 2)
    in a SECOND commit — exercising manifest advance, dirty-bucket
    pruning and latest-per-key resolution against real parquet state —
    then the store's snapshot read aggregates per order status. The
    (key, seq) pairs are unique by construction so conflict resolution
    never reaches the hash tie-break, and the oracle reconstructs the
    merged state relationally (updates override, inserts append).

    The store builds in a fresh per-call scratch dir (deterministic —
    a leftover store would merge into itself on re-run; see
    ``_scratch_dir`` for the grace-window contract)."""
    from near_event_streams_spark.streaming import upsert

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "seq", F.lit(1).cast("long")
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .withColumn("seq", F.lit(2).cast("long"))
    )
    inserts = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "seq", F.lit(2).cast("long")
    )
    path = _scratch_dir("merge_gate", sf_dir)
    upsert.merge_upsert(base, path, key_cols=["o_orderkey"], seq_col="seq")
    upsert.merge_upsert(
        updates.unionByName(inserts),
        path,
        key_cols=["o_orderkey"],
        seq_col="seq",
    )
    state = upsert.read_state(spark, path)
    return (
        state.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("sum_price"),
            F.sum("seq").alias("sum_seq"),
        )
        .orderBy("o_orderstatus")
    )


MERGE_UPSERT_SQL = """
WITH final AS (
  SELECT o_orderstatus, o_totalprice, 1 AS seq
  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 4 != 0
  UNION ALL
  SELECT o_orderstatus, o_totalprice + 100.0, 2 AS seq
  FROM orders WHERE o_orderkey % 4 = 0
  UNION ALL
  SELECT o_orderstatus, o_totalprice, 2 AS seq
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         AS sum_price,
       CAST(SUM(seq) AS BIGINT) AS sum_seq
FROM final GROUP BY 1 ORDER BY 1
"""


def time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL through the versioned bucket store
    (``streaming/upsert.read_state_at``): two MERGE commits (the same
    base/updates/inserts batches as ``merge_upsert_orders``), then read
    BOTH committed versions — v1 must still be the pre-update base
    snapshot even though v2 has re-priced and appended on top of it —
    and roll each up per order status. Exercises the full-manifest
    snapshot design: historical reads prune to the as-of manifest's
    bucket→version map with no log replay. The oracle reconstructs
    both versions relationally (v1 = even keys as loaded; v2 = updates
    override, inserts append).

    Store builds in a fresh per-call scratch dir (``_scratch_dir``)."""
    from near_event_streams_spark.streaming import upsert

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "seq", F.lit(1).cast("long")
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .withColumn("seq", F.lit(2).cast("long"))
    )
    inserts = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "seq", F.lit(2).cast("long")
    )
    path = _scratch_dir("timetravel_gate", sf_dir)
    upsert.merge_upsert(base, path, key_cols=["o_orderkey"], seq_col="seq")
    upsert.merge_upsert(
        updates.unionByName(inserts),
        path,
        key_cols=["o_orderkey"],
        seq_col="seq",
    )
    v1 = upsert.read_state_at(spark, path, 1)
    v2 = upsert.read_state_at(spark, path, 2)
    both = v1.withColumn("version", F.lit(1).cast("int")).unionByName(
        v2.withColumn("version", F.lit(2).cast("int"))
    )
    return (
        both.groupBy("version", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("sum_price"),
            F.sum("seq").alias("sum_seq"),
        )
        .orderBy("version", "o_orderstatus")
    )


TIME_TRAVEL_SQL = """
WITH v1 AS (
  SELECT o_orderstatus, o_totalprice, 1 AS seq
  FROM orders WHERE o_orderkey % 2 = 0
), v2 AS (
  SELECT o_orderstatus, o_totalprice, 1 AS seq
  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 4 != 0
  UNION ALL
  SELECT o_orderstatus, o_totalprice + 100.0, 2 AS seq
  FROM orders WHERE o_orderkey % 4 = 0
  UNION ALL
  SELECT o_orderstatus, o_totalprice, 2 AS seq
  FROM orders WHERE o_orderkey % 2 = 1
), both_v AS (
  SELECT 1 AS version, * FROM v1
  UNION ALL
  SELECT 2 AS version, * FROM v2
)
SELECT CAST(version AS INT) AS version, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         AS sum_price,
       CAST(SUM(seq) AS BIGINT) AS sum_seq
FROM both_v GROUP BY 1, 2 ORDER BY 1, 2
"""


def time_travel_retirement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r15 time-travel RETIREMENT contract, driver-gated
    (``streaming/upsert.read_state_at`` + ``vacuum``): three MERGE
    commits (base evens at v1, %4 re-price at v2, odd inserts at v3),
    then ``vacuum(retain_versions=2)`` — v1's superseded copies of the
    buckets v2 rewrote fall outside every retained manifest and are
    reclaimed, so:

    * ``read_state_at(path, 1)`` must raise ``VersionRetiredError``
      (the version WAS committed; the horizon passed) — NOT return
      the never-committed ``None`` (r14 review: audit jobs could not
      tell an invalid request from an expired horizon);
    * ``read_state_at(path, 99)`` stays ``None`` (never committed);
    * v2 and v3 — the whole retained horizon — stay exactly readable,
      pinned by the same per-version rollup as ``time_travel_orders``
      (the oracle reconstructs both relationally).

    Store builds in a fresh per-call scratch dir."""
    from near_event_streams_spark.streaming import upsert

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "seq", F.lit(1).cast("long")
    )
    upd = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .withColumn("seq", F.lit(2).cast("long"))
    )
    ins = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "seq", F.lit(3).cast("long")
    )
    path = _scratch_dir("timetravel_retire", sf_dir)
    upsert.merge_upsert(base, path, key_cols=["o_orderkey"], seq_col="seq")
    upsert.merge_upsert(upd, path, key_cols=["o_orderkey"], seq_col="seq")
    upsert.merge_upsert(ins, path, key_cols=["o_orderkey"], seq_col="seq")
    reclaimed = upsert.vacuum(path, retain_versions=2)

    retired_raises = False
    try:
        upsert.read_state_at(spark, path, 1)
    except upsert.VersionRetiredError:
        retired_raises = True
    never_committed_none = upsert.read_state_at(spark, path, 99) is None

    v2 = upsert.read_state_at(spark, path, 2)
    v3 = upsert.read_state_at(spark, path, 3)
    both = v2.withColumn("version", F.lit(2).cast("int")).unionByName(
        v3.withColumn("version", F.lit(3).cast("int"))
    )
    return (
        both.groupBy("version", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("sum_price"),
            F.sum("seq").alias("sum_seq"),
        )
        .withColumn(
            "retired_raises", F.lit(bool(retired_raises and reclaimed > 0))
        )
        .withColumn("never_committed_none", F.lit(bool(never_committed_none)))
        .orderBy("version", "o_orderstatus")
    )


TIME_TRAVEL_RETIRE_SQL = """
WITH v2 AS (
  SELECT o_orderstatus, o_totalprice, 1 AS seq
  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 4 != 0
  UNION ALL
  SELECT o_orderstatus, o_totalprice + 100.0, 2 AS seq
  FROM orders WHERE o_orderkey % 4 = 0
), v3 AS (
  SELECT * FROM v2
  UNION ALL
  SELECT o_orderstatus, o_totalprice, 3 AS seq
  FROM orders WHERE o_orderkey % 2 = 1
), both_v AS (
  SELECT 2 AS version, * FROM v2
  UNION ALL
  SELECT 3 AS version, * FROM v3
)
SELECT CAST(version AS INT) AS version, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         AS sum_price,
       CAST(SUM(seq) AS BIGINT) AS sum_seq,
       TRUE AS retired_raises,
       TRUE AS never_committed_none
FROM both_v GROUP BY 1, 2 ORDER BY 1, 2
"""


def pruned_probe_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKET-PRUNED point-lookup probe through the versioned store
    (``streaming/upsert.read_state_pruned``), driver-gated: the same
    two-commit MERGE store as ``merge_upsert_orders`` (64 buckets),
    probed for a bounded key set (the 20 smallest keys divisible by
    1000 — a total order, so deterministic at EVERY sf) the way the
    incremental near-dup ingest probes its registry — derive the probe
    keys' bucket ids (``bucket_ids_for``), read ONLY those buckets,
    semi-join to the probe keys, and aggregate. The oracle recomputes
    the merged rows for the probed keys relationally, so a pruning bug
    that DROPS a bucket (missing rows) or breaks latest-per-key within
    a pruned read flips the hash. ``pruned_ok`` pins that the read
    touched fewer buckets than the store holds — guaranteed by
    pigeonhole (≤ 20 probe keys < 64 buckets at any sf) — so a
    regression that silently falls back to a full scan also fails the
    gate.

    Store builds in a fresh per-call scratch dir (``_scratch_dir``)."""
    from near_event_streams_spark.streaming import upsert

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "seq", F.lit(1).cast("long")
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .withColumn("seq", F.lit(2).cast("long"))
    )
    inserts = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "seq", F.lit(2).cast("long")
    )
    path = _scratch_dir("pruned_probe_gate", sf_dir)
    n_buckets = 64
    upsert.merge_upsert(
        base, path, key_cols=["o_orderkey"], seq_col="seq",
        n_buckets=n_buckets,
    )
    upsert.merge_upsert(
        updates.unionByName(inserts),
        path,
        key_cols=["o_orderkey"],
        seq_col="seq",
        n_buckets=n_buckets,
    )
    probe_keys = (
        orders.filter(F.col("o_orderkey") % 1000 == 0)
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(20)
    )
    meta = upsert.store_meta(path)
    dirty = upsert.bucket_ids_for(
        probe_keys, meta["bucket_cols"], meta["n_buckets"]
    )
    state = upsert.read_state_pruned(spark, path, dirty)
    hit = state.join(probe_keys, "o_orderkey", "left_semi")
    return hit.agg(
        F.count(F.lit(1)).alias("n_found"),
        F.sum(dec("o_totalprice")).cast("double").alias("sum_price"),
        F.sum("seq").alias("sum_seq"),
        F.lit(len(dirty) < meta["n_buckets"]).alias("pruned_ok"),
    )


PRUNED_PROBE_SQL = """
WITH probe AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 1000 = 0
  ORDER BY o_orderkey LIMIT 20
), merged AS (
  SELECT o_orderkey, o_totalprice, 1 AS seq
  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 4 != 0
  UNION ALL
  SELECT o_orderkey, o_totalprice + 100.0, 2 AS seq
  FROM orders WHERE o_orderkey % 4 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, 2 AS seq
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_found,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         AS sum_price,
       CAST(SUM(seq) AS BIGINT) AS sum_seq,
       TRUE AS pruned_ok
FROM merged SEMI JOIN probe USING (o_orderkey)
"""

def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles)
    rolled up to segment-combination counts. Quartile boundaries come
    from ONE exact-percentile aggregate (3 scalars per metric,
    broadcast back) and assignment is a pure CASE comparison — NOT a
    global ``ntile`` window, which would funnel every customer through
    one sort task; this shape stays fully parallel at any customer
    count. Monetary sums are exact decimals; recency is integer epoch
    days; boundaries interpolate identically in both engines
    (``F.percentile`` ↔ ``quantile_cont``, the
    ``percentile_value_stats`` parity precedent).

    avg_monetary is rounded HALF_UP at 6dp in EXACT INTEGER arithmetic
    — ``q6 = (sum_cents·2·10^4 + n) div (2·n)`` then one IEEE division
    ``q6/10^6`` — because the r6 driver red was a round-half tie
    (68570553.99/32 = 2142829.8121875 exactly): Spark's ROUND on the
    decimal quotient rounds the tie up while DuckDB promotes decimal
    division to DOUBLE and rounds the binary value down. Integer
    floor-division of identical integers is bit-exact on both engines
    by construction (positive sums; o_totalprice > 0)."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.max("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).alias("r"),
        F.count(F.lit(1)).alias("f"),
        F.sum(dec("o_totalprice")).alias("m"),
    )
    bounds = per_cust.agg(
        F.percentile("r", F.lit([0.25, 0.5, 0.75])).alias("rb"),
        F.percentile("f", F.lit([0.25, 0.5, 0.75])).alias("fb"),
        F.percentile(
            F.col("m").cast("double"), F.lit([0.25, 0.5, 0.75])
        ).alias("mb"),
    )

    def seg(metric, b):
        m = F.col(metric).cast("double")
        return (
            F.lit(1)
            + F.when(m > F.element_at(b, 1), 1).otherwise(0)
            + F.when(m > F.element_at(b, 2), 1).otherwise(0)
            + F.when(m > F.element_at(b, 3), 1).otherwise(0)
        ).cast("int")

    seg_rows = per_cust.crossJoin(F.broadcast(bounds)).select(
        seg("r", F.col("rb")).alias("seg_recency"),
        seg("f", F.col("fb")).alias("seg_frequency"),
        seg("m", F.col("mb")).alias("seg_monetary"),
        F.col("m").alias("m_dec"),
    )
    return (
        seg_rows.groupBy("seg_recency", "seg_frequency", "seg_monetary")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.expr(
                half_up6_spark("sum(m_dec)*100", "count(1)", 100)
            ).alias("avg_monetary"),
        )
        .orderBy("seg_recency", "seg_frequency", "seg_monetary")
    )


RFM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(MAX(CAST(o_orderdate AS DATE)) - DATE '1970-01-01'
              AS BIGINT) AS r,
         CAST(COUNT(*) AS BIGINT) AS f,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS m
  FROM orders GROUP BY 1
), bounds AS (
  SELECT quantile_cont(r, 0.25) AS r1, quantile_cont(r, 0.5) AS r2,
         quantile_cont(r, 0.75) AS r3,
         quantile_cont(f, 0.25) AS f1, quantile_cont(f, 0.5) AS f2,
         quantile_cont(f, 0.75) AS f3,
         quantile_cont(CAST(m AS DOUBLE), 0.25) AS m1,
         quantile_cont(CAST(m AS DOUBLE), 0.5) AS m2,
         quantile_cont(CAST(m AS DOUBLE), 0.75) AS m3
  FROM per_cust
), segs AS (
  SELECT CAST(1 + (CAST(r AS DOUBLE) > r1)::INT
                + (CAST(r AS DOUBLE) > r2)::INT
                + (CAST(r AS DOUBLE) > r3)::INT AS INT) AS seg_recency,
         CAST(1 + (CAST(f AS DOUBLE) > f1)::INT
                + (CAST(f AS DOUBLE) > f2)::INT
                + (CAST(f AS DOUBLE) > f3)::INT AS INT) AS seg_frequency,
         CAST(1 + (CAST(m AS DOUBLE) > m1)::INT
                + (CAST(m AS DOUBLE) > m2)::INT
                + (CAST(m AS DOUBLE) > m3)::INT AS INT) AS seg_monetary,
         m
  FROM per_cust CROSS JOIN bounds
)
SELECT seg_recency, seg_frequency, seg_monetary,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {half_up6_duck("SUM(m)*100", "COUNT(*)", 100)}
         AS avg_monetary
FROM segs GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def unpivot_stack_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt): per-status order metrics rotate into
    ``(status, metric, value)`` rows — the missing inverse of the pivot
    family (``pivot_status_revenue``). ``DataFrame.unpivot`` is pure
    projection + generator (one ``Expand`` node, zero shuffle beyond
    the feeding aggregate); the oracle uses DuckDB's native UNPIVOT.
    All three measures cast to DOUBLE (UNPIVOT requires one value
    type); sums are exact decimals first."""
    orders = _t(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("sum_price"),
        F.max(dec("o_totalprice")).cast("double").alias("max_price"),
    )
    return g.unpivot(
        ["o_orderstatus"],
        ["n_orders", "sum_price", "max_price"],
        "metric",
        "value",
    ).orderBy("o_orderstatus", "metric")


UNPIVOT_SQL = """
WITH g AS (
  SELECT o_orderstatus,
         CAST(COUNT(*) AS DOUBLE) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
           AS sum_price,
         CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
           AS max_price
  FROM orders GROUP BY 1
)
SELECT o_orderstatus, metric, value
FROM (UNPIVOT g ON n_orders, sum_price, max_price
      INTO NAME metric VALUE value)
ORDER BY o_orderstatus, metric
"""


def trend_per_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linear trend: least-squares slope/intercept of event
    value over time (epoch days) for EVERY event type — the grouped
    twin of ``stats_corr_regression``, i.e. regr_slope/regr_intercept
    as a keyed aggregate rather than a global one (the shape a metrics
    backend runs per series). Same exact-decimal moment formulation:
    one hash agg collects (n, Σx, Σy, Σx², Σxy) as exact decimals, the
    closed forms run identical flops on both engines."""
    ev = _t(spark, sf_dir, "events")
    from near_event_streams_spark.plans._common import ts_us

    x = (
        F.call_function(
            "div", ts_us(), F.lit(86_400_000_000).cast("long")
        )
    ).cast("decimal(10,0)")
    y = dec("value")
    g = (
        ev.withColumn("x", x)
        .withColumn("y", y)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    # slope = t_num/t_den and intercept = (sy·t_den − t_num·sx)/(n·t_den)
    # stay EXACT decimals end-to-end, rounded by the signed integer
    # HALF_UP helper — ROUND on the double quotient is the r6 tie class
    # (and violates the verify-skill rule this round introduced).
    # t_den = n·Σx² − (Σx)² ≥ 0; zero (a group with one distinct x) is
    # guarded to NULL on both engines.
    g2 = g.withColumn("t_num", F.expr("n*sxy - sx*sy")).withColumn(
        "t_den", F.expr("n*sxx - sx*sx")
    )
    slope = F.when(
        F.col("t_den") > 0,
        F.expr(half_up_signed_spark("t_num*100", "t_den", 9, 100)),
    )
    intercept = F.when(
        F.col("t_den") > 0,
        F.expr(
            half_up_signed_spark(
                "(sy*t_den - t_num*sx)*100", "n*t_den", 6, 100
            )
        ),
    )
    return g2.select(
        "event_type",
        F.col("n").alias("n_events"),
        slope.alias("trend_slope"),
        intercept.alias("trend_intercept"),
    ).orderBy("event_type")


TREND_SQL = f"""
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(epoch_ns(ts) // 1000 // 86400000000
                  AS DECIMAL(10,0))) AS sx,
         SUM(CAST(value AS DECIMAL(12,2))) AS sy,
         SUM(CAST(epoch_ns(ts) // 1000 // 86400000000
                  AS DECIMAL(10,0))
             * CAST(epoch_ns(ts) // 1000 // 86400000000
                    AS DECIMAL(10,0))) AS sxx,
         SUM(CAST(epoch_ns(ts) // 1000 // 86400000000
                  AS DECIMAL(10,0))
             * CAST(value AS DECIMAL(12,2))) AS sxy
  FROM events GROUP BY 1
), gi AS (
  -- HUGEINT integer units BEFORE any multiplication: DuckDB silently
  -- promotes decimal products that would exceed DECIMAL(38) to DOUBLE,
  -- which re-introduces the binary-rounding divergence this query
  -- exists to avoid. sy/sxy carry 2dp -> cents.
  SELECT event_type, CAST(n AS HUGEINT) AS n,
         CAST(sx AS HUGEINT) AS sx0,
         CAST(sy*100 AS HUGEINT) AS sy2,
         CAST(sxx AS HUGEINT) AS sxx0,
         CAST(sxy*100 AS HUGEINT) AS sxy2
  FROM g
), g2 AS (
  SELECT event_type, n,
         n*sxy2 - sx0*sy2 AS t_num_cents,
         n*sxx0 - sx0*sx0 AS t_den,
         sy2, sx0
  FROM gi
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
       CASE WHEN t_den > 0
            THEN {half_up_signed_duck("t_num_cents", "t_den", 9, 100)}
            END AS trend_slope,
       CASE WHEN t_den > 0
            THEN {half_up_signed_duck(
                "sy2*t_den - t_num_cents*sx0", "n*t_den", 6, 100)}
            END AS trend_intercept
FROM g2 ORDER BY event_type
"""


def hierarchy_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy (BOM/org-chart) SUBTREE ROLLUP without a recursive
    CTE: suppliers form a decimal trie (parent(n) = n div 10), and each
    node's subtree aggregate is computed by EXPLODING every leaf's
    bounded ancestor path (digits(max key) rows per supplier, pure
    arithmetic — no join) and aggregating once per ancestor. This is
    the scale-correct rewrite of ``WITH RECURSIVE`` rollups: one
    narrow generate + one hash agg instead of a join per level, and it
    parallelizes over leaves regardless of tree depth. The ancestor
    depth is DERIVED from ``length(max(s_suppkey))`` (one scalar agg,
    broadcast) rather than hard-coded, so deep ancestors survive any
    key domain up to bigint (19 digits; 10^j stays exact in a double
    through 10^22). Internal nodes 1–999 reported."""
    sup = _t(spark, sf_dir, "supplier")
    nd = sup.agg(
        F.length(F.max("s_suppkey").cast("string")).alias("n_digits")
    )
    anc = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.col("n_digits") - 1),
            lambda j: F.call_function(
                "div",
                F.col("s_suppkey").cast("long"),
                F.pow(F.lit(10.0), j).cast("long"),
            ),
        ),
        lambda a: a >= 1,
    )
    return (
        sup.crossJoin(F.broadcast(nd))
        .select(
            F.explode(anc).alias("node"), dec("s_acctbal").alias("bal")
        )
        .filter(F.col("node") <= 999)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("n_subtree"),
            F.sum("bal").cast("double").alias("subtree_acctbal"),
        )
        .orderBy("node")
    )


HIERARCHY_SQL = """
WITH nd AS (
  SELECT LENGTH(CAST(MAX(s_suppkey) AS VARCHAR)) AS n_digits
  FROM supplier
), anc AS (
  SELECT s_suppkey // CAST(POWER(10, u.j) AS HUGEINT) AS node, s_acctbal
  FROM supplier, nd, unnest(range(0, nd.n_digits)) u(j)
  WHERE s_suppkey // CAST(POWER(10, u.j) AS HUGEINT) >= 1
)
SELECT CAST(node AS BIGINT) AS node,
       CAST(COUNT(*) AS BIGINT) AS n_subtree,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)
         AS subtree_acctbal
FROM anc WHERE node <= 999
GROUP BY 1 ORDER BY 1
"""


def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the supplier co-purchase graph (two
    suppliers connected when they serve the same order) via
    ``operators/graph.triangle_count`` — the degree-oriented wedge
    join, the work-optimal O(m^1.5) formulation. Non-iterative graph
    analytics to complement the iterative trio (PageRank, label
    propagation, power iteration): one summary row with node/edge/
    triangle/wedge counts and the global clustering coefficient."""
    from near_event_streams_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    x, y = li.alias("x"), li.alias("y")
    pairs = x.join(
        y,
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
    ).select(
        F.col("x.l_suppkey").alias("src"),
        F.col("y.l_suppkey").alias("dst"),
    )
    return triangle_count(pairs)


TRIANGLE_SQL = f"""
WITH e AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
), deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
  GROUP BY v
), ed AS (
  SELECT a, b, da.deg AS da, db.deg AS db
  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
), o AS (
  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v,
         CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dv
  FROM ed
), w AS (
  SELECT a1.v AS x, a2.v AS y
  FROM o a1 JOIN o a2 ON a1.u = a2.u
  WHERE a1.dv < a2.dv OR (a1.dv = a2.dv AND a1.v < a2.v)
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM w JOIN o ON o.u = w.x AND o.v = w.y
), na AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
), ne AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e
)
SELECT n_nodes, n_edges, n_triangles,
       COALESCE(n_wedges, 0) AS n_wedges,
       CASE WHEN COALESCE(n_wedges, 0) > 0
            THEN {half_up6_duck("n_triangles*3", "n_wedges")}
            ELSE 0.0 END AS global_clustering
FROM na, ne, t
"""


def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization through Spark's NATIVE
    ``session_window`` operator (30-minute gap) — the built-in twin of
    the hand-rolled gaps-islands ``sessionize_events``: same keyed
    shuffle, but the session merge runs inside Spark's dedicated
    session-window aggregation (the exact operator the streaming path
    uses with a watermark). Session end = last event + gap, and the
    merge is INCLUSIVE: an event landing exactly at the previous
    session's end (ts - prev = gap) MERGES into it — verified
    empirically on Spark 4.1 (two events exactly gap apart yield ONE
    session spanning [t, t+2*gap)) and pinned by
    ``session_window_exact_gap``, whose grid-aligned input exercises
    this boundary pervasively. The oracle's gaps-islands flag
    therefore breaks strictly (``> gap``) — r17 fix: it used
    ``>= gap`` (claiming an exclusive end Spark does not have), a
    divergence invisible at sf0.01 only because microsecond-random
    timestamps never land exactly 30 minutes apart."""
    ev = _t(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    return (
        ev.groupBy(
            "user_id",
            F.session_window(ts, "30 minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start_us")
    )


SESSION_WINDOW_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, value
  FROM events
), flagged AS (
  SELECT *,
    CASE WHEN ts_us - LAG(ts_us) OVER
           (PARTITION BY user_id ORDER BY ts_us, event_id)
         > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM ev
), sessed AS (
  SELECT *,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) + 1800000000 AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
FROM sessed
GROUP BY user_id, session_id
ORDER BY user_id, session_start_us
"""


def session_window_exact_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` over a 10-minute GRID of event times
    (timestamps floored to the grid, exact integer arithmetic) with
    the gap EQUAL to the grid step — every adjacent-cell pair sits
    exactly gap apart, so the merge boundary is exercised on
    essentially every session edge, instead of never
    (microsecond-random timestamps cannot land exactly gap apart,
    which is how ``session_window_native``'s pre-r17 ``>=`` oracle
    stayed green while contradicting Spark). Pins the INCLUSIVE
    contract cross-engine: grid neighbors (diff == gap) merge into
    one session; a break needs an empty cell between events
    (diff >= 2*gap).

    Scale: the grid floor is a scalar projection in the scan stage;
    one shuffle on user_id into Spark's dedicated session-window
    aggregation — identical plan shape to ``session_window_native``.
    """
    grid_us = 600 * 1_000_000  # 10-minute grid == the session gap
    us = ts_us()
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        # exact integer grid floor (us - us % grid): long % long stays
        # in the integer domain on both engines — no double rounding
        F.timestamp_micros(us - (us % F.lit(grid_us))).alias("gts"),
        "value",
    )
    return (
        ev.groupBy(
            "user_id", F.session_window("gts", "10 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(dec("value"), "session_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start_us")
    )


SESSION_EXACT_GAP_SQL = """
WITH ev AS (
  SELECT user_id,
         (epoch_ns(ts) // 1000) - ((epoch_ns(ts) // 1000) % 600000000)
           AS gus,
         value
  FROM events
), flagged AS (
  SELECT *,
    CASE WHEN gus - LAG(gus) OVER (PARTITION BY user_id ORDER BY gus)
         > 600000000
         THEN 1 ELSE 0 END AS is_new
  FROM ev
), sessed AS (
  SELECT *,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY gus
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(gus) AS session_start_us,
       MAX(gus) + 600000000 AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
FROM sessed
GROUP BY user_id, session_id
ORDER BY user_id, session_start_us
"""


def window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT count over a moving row frame — the one window
    aggregate Spark's engine does not take directly
    (``COUNT(DISTINCT) OVER`` is unsupported): expressed as
    ``size(array_distinct(collect_list))`` over the frame, which stays
    whole-stage JVM (no UDF) with per-row state bounded by the frame
    width. DuckDB supports windowed DISTINCT natively, so the oracle
    is the literal ``COUNT(DISTINCT ...) OVER`` — a cross-engine
    proof the rewrite is exact, not approximate.

    Scale: one shuffle on user_id; the 10-row frame keeps the
    collect buffer O(frame) per row independent of corpus size, and
    the per-user partitions are the same skew surface every other
    user_id window query already carries.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", ts_us().alias("ts_us"), "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return (
        ev.withColumn(
            "n_distinct_types_10",
            F.size(
                F.array_distinct(F.collect_list("event_type").over(w))
            ).cast("long"),
        )
        .select("user_id", "event_id", "n_distinct_types_10")
        .orderBy("user_id", "event_id")
    )


WINDOW_ROLLING_DISTINCT_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type
  FROM events
)
SELECT user_id, event_id,
       CAST(COUNT(DISTINCT event_type) OVER (
         PARTITION BY user_id ORDER BY ts_us, event_id
         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_distinct_types_10
FROM ev
ORDER BY user_id, event_id
"""


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via positional bitmaps
    (``bitmap_bit_position`` / ``bitmap_construct_agg`` /
    ``bitmap_count``) — the mergeable exact-distinct sketch family:
    each (status, bitmap-bucket) aggregates its members into a fixed
    4KB bitmap, counts sum across buckets, and — unlike
    approx_count_distinct — the result is exact, so the oracle is a
    plain COUNT(DISTINCT). The shape is the 100 TB pattern for exact
    distinct at scale: bitmap partials merge associatively (map-side
    combine), no per-row hash set."""
    orders = _t(spark, sf_dir, "orders")
    per_bucket = (
        orders.groupBy(
            "o_orderstatus",
            F.bitmap_bucket_number(F.col("o_custkey")).alias("bkt"),
        )
        .agg(
            F.bitmap_construct_agg(
                F.bitmap_bit_position(F.col("o_custkey"))
            ).alias("bm")
        )
    )
    return (
        per_bucket.groupBy("o_orderstatus")
        .agg(
            F.sum(F.bitmap_count(F.col("bm"))).alias("n_distinct_cust")
        )
        .orderBy("o_orderstatus")
    )


BITMAP_DISTINCT_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
FROM orders GROUP BY 1 ORDER BY 1
"""


def scan_multiformat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink FORMAT breadth, gated: write the orders' exact-
    round-trip columns (ints, strings, ISO day strings — no floats, so
    text serialization is lossless by construction) to CSV-with-header
    AND JSON-lines under a wiped scratch dir, read both back with
    EXPLICIT schemas (never inference in a production read path), and
    aggregate per (format, status). The oracle aggregates the parquet
    source directly, once per format tag — any serialization drift in
    either format breaks the hash. Scratch dir is per-call
    (``_scratch_dir``)."""
    orders = _t(spark, sf_dir, "orders")
    sel = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.date_format(
            F.col("o_orderdate").cast("date"), "yyyy-MM-dd"
        ).alias("order_day"),
        "o_orderpriority",
    )
    base = _scratch_dir("fmt_gate", sf_dir)
    sel.write.mode("overwrite").option("header", True).csv(
        os.path.join(base, "csv")
    )
    sel.write.mode("overwrite").json(os.path.join(base, "json"))
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "order_day string, o_orderpriority string"
    )
    c = (
        spark.read.schema(schema)
        .option("header", True)
        .csv(os.path.join(base, "csv"))
        .withColumn("fmt", F.lit("csv"))
    )
    j = (
        spark.read.schema(schema)
        .json(os.path.join(base, "json"))
        .withColumn("fmt", F.lit("json"))
    )
    return (
        c.unionByName(j)
        .groupBy("fmt", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("sum_keys"),
            F.min("order_day").alias("first_day"),
            F.max("order_day").alias("last_day"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
        .orderBy("fmt", "o_orderstatus")
    )


MULTIFORMAT_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_day,
         o_orderpriority
  FROM orders
), fmts AS (
  SELECT 'csv' AS fmt UNION ALL SELECT 'json'
)
SELECT fmt, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       MIN(order_day) AS first_day,
       MAX(order_day) AS last_day,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
FROM base CROSS JOIN fmts
GROUP BY 1, 2 ORDER BY 1, 2
"""


def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-level data-quality PROFILE: per column, null count /
    distinct count / min / max (rendered as strings so one schema fits
    every column type) — the first look any ingestion pipeline takes at
    a new table. ONE pass over orders computes all 24 metrics in a
    single aggregate, then a ``stack`` generator pivots the 1-row
    result into a per-column report (no per-column re-scan). Decimal
    and ISO-day renderings keep the string forms engine-identical."""
    orders = _t(spark, sf_dir, "orders")
    typed = {
        "o_orderkey": F.col("o_orderkey"),
        "o_custkey": F.col("o_custkey"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_totalprice": dec("o_totalprice"),
        "o_orderdate": F.date_format(
            F.col("o_orderdate").cast("date"), "yyyy-MM-dd"
        ),
        "o_orderpriority": F.col("o_orderpriority"),
    }
    aggs = []
    for name, col in typed.items():
        aggs += [
            F.count(F.when(col.isNull(), 1)).alias(f"nn_{name}"),
            F.countDistinct(col).alias(f"nd_{name}"),
            F.min(col).cast("string").alias(f"mn_{name}"),
            F.max(col).cast("string").alias(f"mx_{name}"),
        ]
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', nn_{name}, nd_{name}, mn_{name}, mx_{name}"
        for name in typed
    )
    return one.selectExpr(
        f"stack({len(typed)}, {stack_args}) AS "
        "(col_name, n_nulls, n_distinct, min_val, max_val)"
    ).orderBy("col_name")


DQ_COLUMN_PROFILE_SQL = """
SELECT * FROM (
  SELECT 'o_orderkey' AS col_name,
         CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT)
           AS n_nulls,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
         CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
         CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
  FROM orders
  UNION ALL
  SELECT 'o_custkey',
         CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
         CAST(MIN(o_custkey) AS VARCHAR),
         CAST(MAX(o_custkey) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus',
         CAST(COUNT(*) FILTER (WHERE o_orderstatus IS NULL) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
         MIN(o_orderstatus), MAX(o_orderstatus)
  FROM orders
  UNION ALL
  SELECT 'o_totalprice',
         CAST(COUNT(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT),
         CAST(COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(12,2)))
              AS BIGINT),
         CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR),
         CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderdate',
         CAST(COUNT(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT),
         CAST(COUNT(DISTINCT strftime(CAST(o_orderdate AS DATE),
                                      '%Y-%m-%d')) AS BIGINT),
         MIN(strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')),
         MAX(strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d'))
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority',
         CAST(COUNT(*) FILTER (WHERE o_orderpriority IS NULL)
              AS BIGINT),
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
         MIN(o_orderpriority), MAX(o_orderpriority)
  FROM orders
)
ORDER BY col_name
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q4_order_priority": q4_order_priority,
    "q11_important_parts": q11_important_parts,
    "stats_moments": stats_moments,
    "subquery_scalar_in_select": subquery_scalar_in_select,
    "lateral_topn_orders": lateral_topn_orders,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q12_priority_lines": q12_priority_lines,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_effect": q14_promo_effect,
    "q18_large_volume": q18_large_volume,
    "q19_bracket_revenue": q19_bracket_revenue,
    "q22_idle_wealthy": q22_idle_wealthy,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_quantity": q17_small_quantity,
    "window_distribution_suite": window_distribution_suite,
    "set_union_distinct": set_union_distinct,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "q20_part_share_suppliers": q20_part_share_suppliers,
    "try_functions": try_functions,
    "variant_functions": variant_functions,
    "variant_parquet_roundtrip": variant_parquet_roundtrip,
    "variant_shredded_pushdown": variant_shredded_pushdown,
    "window_range_frame": window_range_frame,
    "higher_order_functions": higher_order_functions,
    "window_ignore_nulls": window_ignore_nulls,
    "agg_median_udaf": agg_median_udaf,
    "generator_inline_structs": generator_inline_structs,
    "map_functions_2": map_functions_2,
    "struct_functions": struct_functions,
    "udtf_region_expand": udtf_region_expand,
    "udtf_polymorphic_ntile": udtf_polymorphic_ntile,
    "date_spine_coverage": date_spine_coverage,
    "array_functions_2": array_functions_2,
    "agg_salted_counts": agg_salted_counts,
    "string_functions_2": string_functions_2,
    "date_functions_2": date_functions_2,
    "json_struct_roundtrip": json_struct_roundtrip,
    "set_except_all_custkeys": set_except_all_custkeys,
    "agg_collect_sorted": agg_collect_sorted,
    "agg_string_concat": agg_string_concat,
    "map_functions": map_functions,
    "pivot_status_revenue": pivot_status_revenue,
    "percentile_value_stats": percentile_value_stats,
    "conditional_functions": conditional_functions,
    "bitwise_functions": bitwise_functions,
    "generator_functions": generator_functions,
    "funnel_view_click_purchase": funnel_view_click_purchase,
    "retention_cohorts_daily": retention_cohorts_daily,
    "layout_zorder_locality": layout_zorder_locality,
    "join_interval_overlap": join_interval_overlap,
    "feature_zscore_winsorize": feature_zscore_winsorize,
    "scd2_user_state": scd2_user_state,
    "join_asof_forward_tolerance": join_asof_forward_tolerance,
    "join_asof_nearest": join_asof_nearest,
    "mixture_temperature_sources": mixture_temperature_sources,
    "hopping_window_events": hopping_window_events,
    "active_users_dau_wau_mau": active_users_dau_wau_mau,
    "active_users_hll": active_users_hll,
    "graph_pagerank_copurchase": graph_pagerank_copurchase,
    "diag_key_skew_users": diag_key_skew_users,
    "join_salted_user_spend": join_salted_user_spend,
    "stats_corr_regression": stats_corr_regression,
    "agg_mode_deterministic": agg_mode_deterministic,
    "seq_gaps_islands": seq_gaps_islands,
    "rfm_customer_segments": rfm_customer_segments,
    "merge_upsert_orders": merge_upsert_orders,
    "pruned_probe_orders": pruned_probe_orders,
    "time_travel_orders": time_travel_orders,
    "time_travel_retirement": time_travel_retirement,
    "unpivot_stack_metrics": unpivot_stack_metrics,
    "trend_per_event_type": trend_per_event_type,
    "hierarchy_subtree_rollup": hierarchy_subtree_rollup,
    "graph_triangle_census": graph_triangle_census,
    "session_window_native": session_window_native,
    "session_window_exact_gap": session_window_exact_gap,
    "window_rolling_distinct": window_rolling_distinct,
    "agg_bitmap_distinct": agg_bitmap_distinct,
    "scan_multiformat_roundtrip": scan_multiformat_roundtrip,
    "dq_column_profile": dq_column_profile,
    "graph_label_propagation": graph_label_propagation,
    "url_functions": url_functions,
    "string_fuzzy_levenshtein": string_fuzzy_levenshtein,
    "join_pointintime_scd2": join_pointintime_scd2,
    "hist_order_totals": hist_order_totals,
    "dq_audit_checks": dq_audit_checks,
    "diff_snapshots_orders": diff_snapshots_orders,
    "seq_event_trigrams": seq_event_trigrams,
    "feature_mad_outliers": feature_mad_outliers,
    "attribution_last_touch": attribution_last_touch,
    "funnel_windowed_1d": funnel_windowed_1d,
    "dq_functional_deps": dq_functional_deps,
    "feature_cusum_alarms": feature_cusum_alarms,
    "seq_markov_transitions": seq_markov_transitions,
}

ORACLE_SQL: dict[str, str] = {
    "q2_min_cost_supplier": Q2_SQL,
    "q4_order_priority": Q4_SQL,
    "q11_important_parts": Q11_SQL,
    "stats_moments": STATS_MOMENTS_SQL,
    "subquery_scalar_in_select": SUBQUERY_SCALAR_SELECT_SQL,
    "lateral_topn_orders": LATERAL_TOPN_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q10_returned_items": Q10_SQL,
    "q12_priority_lines": Q12_SQL,
    "q13_customer_distribution": Q13_SQL,
    "q14_promo_effect": Q14_SQL,
    "q18_large_volume": Q18_SQL,
    "q19_bracket_revenue": Q19_SQL,
    "q22_idle_wealthy": Q22_SQL,
    "q15_top_supplier": Q15_SQL,
    "q17_small_quantity": Q17_SQL,
    "window_distribution_suite": WINDOW_DIST_SQL,
    "set_union_distinct": SET_UNION_SQL,
    "q21_waiting_suppliers": Q21_SQL,
    "q16_supplier_part_counts": Q16_SQL,
    "q20_part_share_suppliers": Q20_SQL,
    "try_functions": TRY_FUNCS_SQL,
    "variant_functions": VARIANT_SQL,
    "variant_parquet_roundtrip": VARIANT_ROUNDTRIP_SQL,
    "variant_shredded_pushdown": VARIANT_SHREDDED_SQL,
    "window_range_frame": WINDOW_RANGE_SQL,
    "higher_order_functions": HIGHER_ORDER_SQL,
    "window_ignore_nulls": WINDOW_IGNORE_NULLS_SQL,
    "agg_median_udaf": AGG_MEDIAN_SQL,
    "generator_inline_structs": GENERATOR_INLINE_SQL,
    "map_functions_2": MAP_FUNCS2_SQL,
    "struct_functions": STRUCT_FUNCS_SQL,
    "udtf_region_expand": UDTF_SQL,
    "udtf_polymorphic_ntile": UDTF_POLY_SQL,
    "date_spine_coverage": DATE_SPINE_SQL,
    "array_functions_2": ARRAY_FUNCS2_SQL,
    "agg_salted_counts": AGG_SALTED_SQL,
    "string_functions_2": STRING_FUNCS2_SQL,
    "date_functions_2": DATE_FUNCS2_SQL,
    "json_struct_roundtrip": JSON_ROUNDTRIP_SQL,
    "set_except_all_custkeys": SET_EXCEPT_ALL_SQL,
    "agg_collect_sorted": AGG_COLLECT_SQL,
    "agg_string_concat": AGG_STRING_SQL,
    "map_functions": MAP_FUNCS_SQL,
    "pivot_status_revenue": PIVOT_SQL,
    "percentile_value_stats": PERCENTILE_SQL,
    "conditional_functions": CONDITIONAL_SQL,
    "bitwise_functions": BITWISE_SQL,
    "generator_functions": GENERATOR_SQL,
    "funnel_view_click_purchase": FUNNEL_SQL,
    "retention_cohorts_daily": RETENTION_SQL,
    "layout_zorder_locality": ZORDER_SQL,
    "join_interval_overlap": INTERVAL_OVERLAP_SQL,
    "feature_zscore_winsorize": FEATURE_ZSCORE_SQL,
    "scd2_user_state": SCD2_SQL,
    "join_asof_forward_tolerance": ASOF_FORWARD_SQL,
    "join_asof_nearest": ASOF_NEAREST_SQL,
    "mixture_temperature_sources": MIXTURE_TEMP_SQL,
    "hopping_window_events": HOPPING_WINDOW_SQL,
    "active_users_dau_wau_mau": DAU_WAU_MAU_SQL,
    "active_users_hll": ACTIVE_USERS_HLL_SQL,
    "graph_pagerank_copurchase": PAGERANK_SQL,
    "diag_key_skew_users": DIAG_KEY_SKEW_SQL,
    "join_salted_user_spend": JOIN_SALTED_SQL,
    "stats_corr_regression": STATS_CORR_SQL,
    "agg_mode_deterministic": AGG_MODE_SQL,
    "seq_gaps_islands": SEQ_ISLANDS_SQL,
    "rfm_customer_segments": RFM_SQL,
    "merge_upsert_orders": MERGE_UPSERT_SQL,
    "pruned_probe_orders": PRUNED_PROBE_SQL,
    "time_travel_orders": TIME_TRAVEL_SQL,
    "time_travel_retirement": TIME_TRAVEL_RETIRE_SQL,
    "unpivot_stack_metrics": UNPIVOT_SQL,
    "trend_per_event_type": TREND_SQL,
    "hierarchy_subtree_rollup": HIERARCHY_SQL,
    "graph_triangle_census": TRIANGLE_SQL,
    "session_window_native": SESSION_WINDOW_SQL,
    "session_window_exact_gap": SESSION_EXACT_GAP_SQL,
    "window_rolling_distinct": WINDOW_ROLLING_DISTINCT_SQL,
    "agg_bitmap_distinct": BITMAP_DISTINCT_SQL,
    "scan_multiformat_roundtrip": MULTIFORMAT_SQL,
    "dq_column_profile": DQ_COLUMN_PROFILE_SQL,
    "graph_label_propagation": LABELPROP_SQL,
    "url_functions": URL_FUNCTIONS_SQL,
    "string_fuzzy_levenshtein": STRING_FUZZY_SQL,
    "join_pointintime_scd2": POINTINTIME_SCD2_SQL,
    "hist_order_totals": HIST_ORDER_SQL,
    "dq_audit_checks": DQ_AUDIT_SQL,
    "diff_snapshots_orders": DIFF_SNAPSHOTS_SQL,
    "seq_event_trigrams": SEQ_TRIGRAMS_SQL,
    "feature_mad_outliers": MAD_OUTLIERS_SQL,
    "attribution_last_touch": ATTRIBUTION_SQL,
    "funnel_windowed_1d": FUNNEL_WINDOWED_SQL,
    "dq_functional_deps": DQ_FUNCTIONAL_SQL,
    "feature_cusum_alarms": CUSUM_SQL,
    "seq_markov_transitions": SEQ_MARKOV_SQL,
}
