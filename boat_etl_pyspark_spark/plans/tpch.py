"""The 22 TPC-H query shapes over the fixture star schema."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import cents, money_avg, money_sum
from ..sources.readers import load_table
from .contract import money_bounded_sql, qty_bounded_sql, rate_bounded_sql
from . import bind_sql


def _fmt_day(col):
    return F.date_format(col, "yyyy-MM-dd")


# ---------------------------------------------------------------------------
# Q1 — pricing summary (scan + filter + hash aggregate, TPC-H Q1 shape)
# ---------------------------------------------------------------------------

# Scale notes (100 TB posture):
#   * dimension joins (region/nation/supplier/part) are explicitly
#     broadcast — no shuffle of the fact table on those keys;
#   * fact-fact joins (orders⋈lineitem) shuffle on the join key and are
#     AQE-managed (skew split + partition coalescing);
#   * aggregates use the integer-cents pattern from functions.numeric so
#     results are order-independent → reproducible at any parallelism;
#   * no driver collects: every query returns a lazy DataFrame.
#
# Reference parity: the reference's only distributed query is the
# group-by average (SURVEY §2.5 A1, src/pipeline_pyspark.py:352-355);
# everything else here covers the §2.9 required-but-absent surface.
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("2000-12-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(F.col("l_quantity")).alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(charge).alias("sum_charge"),
            money_avg(F.col("l_quantity")).alias("avg_qty"),
            money_avg(F.col("l_extendedprice")).alias("avg_price"),
            money_avg(F.col("l_discount"), scale=10000).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(TRY_CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
  CAST(SUM(TRY_CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
  CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
  CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_charge,
  CAST(SUM(TRY_CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / (COUNT(l_quantity) * 100.0) AS avg_qty,
  CAST(SUM(TRY_CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / (COUNT(l_extendedprice) * 100.0) AS avg_price,
  CAST(SUM(TRY_CAST(ROUND(l_discount * 10000) AS BIGINT)) AS DOUBLE) / (COUNT(l_discount) * 10000.0) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Q3 — shipping priority (3-way join + agg + global top-k)
# ---------------------------------------------------------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-01-01"))
    )
    revenue = F.sum(cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))) / 100.0
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer filter is selective (1/5 of a dimension): broadcast it
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .select(
            "l_orderkey",
            _fmt_day("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q3_SQL = """
SELECT
  l_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  o_orderpriority,
  CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q5 — regional revenue (5-way star join, broadcast dims + shuffled facts)
# ---------------------------------------------------------------------------

def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    revenue = F.sum(cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))) / 100.0
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        # local-supplier condition: supplier nation must equal customer nation
        .join(
            F.broadcast(sup),
            (li.l_suppkey == sup.s_suppkey) & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(revenue.alias("revenue"))
    )


_Q5_SQL = """
SELECT
  n_name,
  CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Q2 shape: cheapest supplier per part (correlated min -> window form)
# ---------------------------------------------------------------------------

#   * q2-style per-group minimum with correlated filter (cheapest
#     supplier per part via window-min, the scalable form of TPC-H Q2's
#     correlated subquery)
def q2_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pinned NULL-key rule (round-10 layer 2): an offer with no part
    # key belongs to no part — Spark's window keeps a NULL partition
    # where the oracle's correlated `i.l_partkey = o.l_partkey`
    # never matches it, so the exclusion is explicit on both sides.
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey").isNotNull()
    )
    sup = load_table(spark, sf_dir, "supplier")
    # per (part, supplier): min observed unit price (price/qty is noisy;
    # use extendedprice directly as the offer price)
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("best_price")
    )
    w = Window.partitionBy("l_partkey")
    cheapest = (
        offers.withColumn("part_min", F.min("best_price").over(w))
        .where(F.col("best_price") == F.col("part_min"))
        .drop("part_min")
    )
    return (
        cheapest.join(F.broadcast(sup), cheapest.l_suppkey == sup.s_suppkey)
        .select("l_partkey", "l_suppkey", "s_name", "best_price")
    )


_Q2_SQL = """
WITH offers AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS best_price
  FROM lineitem WHERE l_partkey IS NOT NULL
  GROUP BY l_partkey, l_suppkey
)
SELECT o.l_partkey, o.l_suppkey, s_name, o.best_price
FROM offers o
JOIN supplier ON o.l_suppkey = s_suppkey
WHERE o.best_price = (
  SELECT MIN(best_price) FROM offers i WHERE i.l_partkey = o.l_partkey
)
"""


# ---------------------------------------------------------------------------
# Q13 shape: customer order-count distribution (two-level aggregation)
# ---------------------------------------------------------------------------

#   * q13-style two-level aggregation (customer order-count histogram)
def q13_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count("*").alias("n_customers")
    )


_Q13_SQL = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT n_orders, COUNT(*) AS n_customers
FROM per_cust
GROUP BY n_orders
"""


# ---------------------------------------------------------------------------
# Q16 shape: exclusion list + distinct counting
# ---------------------------------------------------------------------------

#   * q16-style exclusion + distinct counting (NOT IN + countDistinct)
def q16_parts_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").where(
        ~F.col("p_brand").isin("Brand#1", "Brand#2")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q16_SQL = """
SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand NOT IN ('Brand#1', 'Brand#2')
GROUP BY p_brand, p_type
"""


# ---------------------------------------------------------------------------
# Q22 shape: positive-balance customers with no recent orders
# ---------------------------------------------------------------------------

#   * q22-style anti-join with scalar-subquery threshold
def q22_dormant_positive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01"))
    )
    threshold = bind_sql(
        spark,
        "SELECT MAX(c_acctbal) * 0.2 AS t FROM {cust} WHERE c_acctbal > 0",
        cust=cust,
    )
    rich = cust.join(F.broadcast(threshold)).where(F.col("c_acctbal") > F.col("t"))
    return (
        rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            money_sum(F.col("c_acctbal")).alias("total_bal"),
        )
    )


_Q22_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(TRY_CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_bal
FROM customer
WHERE c_acctbal > (SELECT MAX(c_acctbal) * 0.2 FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q4 shape: order-priority counts where any lineitem shipped late
# ---------------------------------------------------------------------------

def q4_priority_with_late_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # semi join on a non-equi condition: any lineitem shipped more
    # than 60 days after the order date
    joined = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, 60)),
        "left_semi",
    )
    return joined.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q12 shape: priority buckets per ship-year (CASE aggregation)
# ---------------------------------------------------------------------------

def q12_priority_by_ship_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


_Q12_SQL = """
SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q14 shape: promo revenue share (conditional ratio over one scan)
# ---------------------------------------------------------------------------

def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        (
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).cast("double")
            / F.sum(rev)
            * 100.0
        ).alias("promo_share_pct"),
        (F.sum(rev) / 100.0).alias("total_revenue"),
    )


_Q14_SQL = """
SELECT
  CAST(SUM(CASE WHEN p_type = 'PROMO'
                THEN TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
                ELSE 0 END) AS DOUBLE)
    / CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
    * 100.0 AS promo_share_pct,
  CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
"""


# ---------------------------------------------------------------------------
# Q18 shape: large orders via HAVING on an aggregated join key
# ---------------------------------------------------------------------------

def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg((F.sum(cents(F.col("l_quantity"))) / 100.0).alias("total_qty"))
        .where(F.col("total_qty") > 150.0)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


_Q18_SQL = """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(TRY_CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING CAST(SUM(TRY_CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 > 150.0
)
SELECT c_name, o_orderkey, o_totalprice, total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# ---------------------------------------------------------------------------
# Q6: forecasting revenue change (tight filter-range scan, single agg)
# ---------------------------------------------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
            & F.col("l_discount").between(0.04, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(cents(F.col("l_extendedprice") * F.col("l_discount"))) / 100.0)
            .alias("revenue_delta"),
            F.count("*").alias("n_items"),
        )
    )


_Q6_SQL = """
SELECT
  CAST(SUM(TRY_CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue_delta,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q10: returned-item reporting (4-way join, group, top 20)
# ---------------------------------------------------------------------------

def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.sum(cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))) / 100.0
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q15: top supplier(s) — revenue view, select the max
# ---------------------------------------------------------------------------

def q15_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            (F.sum(cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))) / 100.0)
            .alias("total_revenue")
        )
    )
    # integer-cents revenue makes the max-equality selection exact
    top = rev.withColumn(
        "max_rev", F.max("total_revenue").over(Window.partitionBy())
    ).where(F.col("total_revenue") == F.col("max_rev"))
    return top.join(F.broadcast(sup), top.l_suppkey == sup.s_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


# ---------------------------------------------------------------------------
# Q17: small-quantity orders (correlated per-part average)
# ---------------------------------------------------------------------------

def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    # per-part average quantity via exact integer sums (the correlated
    # scalar subquery of Q17, decorrelated to a window)
    w = Window.partitionBy("l_partkey")
    qty_c = cents(F.col("l_quantity"))
    enriched = li.withColumn(
        "avg_qty",
        (F.sum(qty_c).over(w).cast("double") / (F.count("*").over(w) * 100.0)),
    )
    return (
        enriched.join(F.broadcast(part), enriched.l_partkey == part.p_partkey)
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (F.sum(cents(F.col("l_extendedprice"))) / 100.0 / 7.0).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


_Q17_SQL = """
WITH enriched AS (
  SELECT l_partkey, l_quantity, l_extendedprice,
         CAST(SUM(TRY_CAST(ROUND(l_quantity * 100) AS BIGINT)) OVER (PARTITION BY l_partkey) AS DOUBLE)
           / (COUNT(*) OVER (PARTITION BY l_partkey) * 100.0) AS avg_qty
  FROM lineitem
)
SELECT
  CAST(SUM(TRY_CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly,
  COUNT(*) AS n_items
FROM enriched
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < 0.5 * avg_qty
"""


# ---------------------------------------------------------------------------
# Q19: disjunctive predicate revenue (OR-of-ANDs pushed into one scan)
# ---------------------------------------------------------------------------

def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 20)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity").between(10, 30)))
        | ((F.col("p_type") == "PROMO") & (F.col("l_quantity") >= 25))
    )
    return joined.where(cond).agg(
        money_sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


_Q19_SQL = """
SELECT
  CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_type = 'PROMO' AND l_quantity >= 25)
"""


# ---------------------------------------------------------------------------
# Q21: suppliers who alone delayed multi-supplier orders
# (double exists/not-exists, decorrelated into one aggregation)
# ---------------------------------------------------------------------------

def q21_sole_delaying_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_suppliers"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_suppkey"),
        )
        .where((F.col("n_suppliers") > 1) & (F.col("n_late_suppliers") == 1))
    )
    return (
        per_order.join(F.broadcast(sup), per_order.late_suppkey == sup.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
    )


_Q21_SQL = """
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_suppliers,
         COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN l_suppkey END) AS n_late_suppliers,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN l_suppkey END) AS late_suppkey
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM per_order
JOIN supplier ON late_suppkey = s_suppkey
WHERE n_suppliers > 1 AND n_late_suppliers = 1
GROUP BY s_suppkey, s_name
"""


def _rev_cents():
    return cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))


# ---------------------------------------------------------------------------
# Q7: trade volume between two nations, by year and direction
# ---------------------------------------------------------------------------

# The fixture has no partsupp table or supplycost column; Q9/Q11/Q20
# emulate them with per-(supplier, part) lineitem aggregates and
# retail-price-derived cost, preserving the query SHAPES (nation-pair
# volume, market-share ratio, profit decomposition, value-threshold
# scalar subquery, nested semi-join) with the available columns.
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    pair = F.col("supp_nation").isin("NATION_1", "NATION_2") & F.col(
        "cust_nation"
    ).isin("NATION_1", "NATION_2") & (F.col("supp_nation") != F.col("cust_nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n1), sup.s_nationkey == F.col("snk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("cnk"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg((F.sum(_rev_cents()) / 100.0).alias("volume"))
    )


_Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Q8: market share of one supplier-nation within a region, per year
# ---------------------------------------------------------------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    cn = nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk"))
    sn = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    rev = _rev_cents()
    target = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cnk"))
        .join(F.broadcast(region), F.col("crk") == region.r_regionkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(sn), sup.s_nationkey == F.col("snk"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            (F.sum(target).cast("double") / F.sum(rev)).alias("mkt_share"),
            (F.sum(rev) / 100.0).alias("total_volume"),
        )
    )


_Q8_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                     THEN TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
                     ELSE 0 END) AS DOUBLE)
         / CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) AS mkt_share,
       CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region   ON n2.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
WHERE r_name = 'EUROPE'
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q9: product-type profit by supplier nation and year
# (cost emulated as 80% of retail price x quantity)
# ---------------------------------------------------------------------------

# q9's compound profit ingest: every factor is contract-bounded
# (money/rate/qty domains) BEFORE the arithmetic, so a corrupt factor
# nulls the term identically in both engines — the oracle used a plain
# CAST that THROWS on NaN in DuckDB while Spark's try_cast nulls
# (round-10 layer 2). One fragment, interpolated on both sides.
_Q9_PROFIT = (
    f"TRY_CAST(ROUND(({money_bounded_sql('l_extendedprice')}"
    f" * (1.0 - {rate_bounded_sql('l_discount')})"
    f" - {money_bounded_sql('p_retailprice')} * 0.8"
    f" * {qty_bounded_sql('l_quantity')}) * 100) AS BIGINT)"
)


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains("widget")
    )
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = F.expr(_Q9_PROFIT)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg((F.sum(profit) / 100.0).alias("profit"))
    )


_Q9_SQL = f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(SUM({_Q9_PROFIT}) AS DOUBLE) / 100.0 AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Q11: important stock (value share above a global-scalar threshold);
# partsupp emulated by per-(supplier, part) lineitem value
# ---------------------------------------------------------------------------

def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(cents(F.col("l_extendedprice"))).alias("value_cents")
    )
    per_part = ps.groupBy("l_partkey").agg(
        (F.sum("value_cents") / 100.0).alias("part_value")
    )
    total = per_part.agg(
        (F.sum(cents(F.col("part_value"))) / 100.0).alias("tv")
    )
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("part_value") > F.col("tv") * 0.001)
        .select("l_partkey", "part_value")
    )


_Q11_SQL = """
WITH ps AS (
  SELECT l_suppkey, l_partkey,
         SUM(TRY_CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS value_cents
  FROM lineitem GROUP BY l_suppkey, l_partkey
),
per_part AS (
  SELECT l_partkey, CAST(SUM(value_cents) AS DOUBLE) / 100.0 AS part_value
  FROM ps GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > (
  SELECT CAST(SUM(CAST(ROUND(part_value * 100) AS BIGINT)) AS DOUBLE) / 100.0
  FROM per_part
) * 0.001
"""


# ---------------------------------------------------------------------------
# Q20: suppliers holding excess stock of a part family (nested semi)
# ---------------------------------------------------------------------------

def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").startswith("blue")
    )
    sup = load_table(spark, sf_dir, "supplier")
    # per (supplier, part): shipped quantity vs half the part's total
    per_sp = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(cents(F.col("l_quantity"))).alias("qty_cents"))
    )
    per_part_total = per_sp.groupBy("l_partkey").agg(
        F.sum("qty_cents").alias("total_cents")
    )
    heavy = (
        per_sp.join(per_part_total, "l_partkey")
        .where(F.col("qty_cents").cast("double") > 0.3 * F.col("total_cents"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        sup.join(heavy, sup.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_nationkey")
    )


_Q20_SQL = """
WITH per_sp AS (
  SELECT l_suppkey, l_partkey,
         SUM(TRY_CAST(ROUND(l_quantity * 100) AS BIGINT)) AS qty_cents
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
  GROUP BY l_suppkey, l_partkey
),
totals AS (
  SELECT l_partkey, SUM(qty_cents) AS total_cents FROM per_sp GROUP BY l_partkey
),
heavy AS (
  SELECT DISTINCT l_suppkey
  FROM per_sp JOIN totals USING (l_partkey)
  WHERE CAST(qty_cents AS DOUBLE) > 0.3 * total_cents
)
SELECT s_suppkey, s_name, s_nationkey
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "q2_cheapest_supplier_per_part": q2_cheapest_supplier_per_part,
    "q4_priority_with_late_items": q4_priority_with_late_items,
    "q12_priority_by_ship_year": q12_priority_by_ship_year,
    "q14_promo_revenue_share": q14_promo_revenue_share,
    "q18_large_orders": q18_large_orders,
    "q13_order_count_histogram": q13_order_count_histogram,
    "q16_parts_supplier_variety": q16_parts_supplier_variety,
    "q22_dormant_positive_customers": q22_dormant_positive_customers,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_item_customers": q10_returned_item_customers,
    "q15_top_suppliers": q15_top_suppliers,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q21_sole_delaying_supplier": q21_sole_delaying_supplier,
    "q7_nation_trade_volume": q7_nation_trade_volume,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q11_important_stock": q11_important_stock,
    "q20_excess_stock_suppliers": q20_excess_stock_suppliers,
}

ORACLE = {
    "q1_pricing_summary": _Q1_SQL,
    "q3_shipping_priority": _Q3_SQL,
    "q5_region_revenue": _Q5_SQL,
    "q2_cheapest_supplier_per_part": _Q2_SQL,
    "q4_priority_with_late_items": _Q4_SQL,
    "q12_priority_by_ship_year": _Q12_SQL,
    "q14_promo_revenue_share": _Q14_SQL,
    "q18_large_orders": _Q18_SQL,
    "q13_order_count_histogram": _Q13_SQL,
    "q16_parts_supplier_variety": _Q16_SQL,
    "q22_dormant_positive_customers": _Q22_SQL,
    "q6_forecast_revenue": _Q6_SQL,
    "q10_returned_item_customers": _Q10_SQL,
    "q15_top_suppliers": _Q15_SQL,
    "q17_small_quantity_revenue": _Q17_SQL,
    "q19_disjunctive_revenue": _Q19_SQL,
    "q21_sole_delaying_supplier": _Q21_SQL,
    "q7_nation_trade_volume": _Q7_SQL,
    "q8_market_share": _Q8_SQL,
    "q9_product_profit": _Q9_SQL,
    "q11_important_stock": _Q11_SQL,
    "q20_excess_stock_suppliers": _Q20_SQL,
}
