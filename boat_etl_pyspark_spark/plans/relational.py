"""Relational operator shapes outside the larger families: dates, JSON,
maps and arrays, pivots, subqueries, set operations, sorts, strings
and slowly-changing dimensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import cents, money_sum
from ..sources.readers import load_table
from .contract import (
    money_rounded,
    money_rounded_sql,
    qty_scaled,
    qty_scaled_sql,
    tpch_date_valid,
    tpch_date_valid_sql,
)
from . import bind_sql


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

def setops_buyer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f_buyers = orders.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_buyers = orders.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    both = f_buyers.intersect(o_buyers).withColumn("bucket", F.lit("both"))
    f_only = f_buyers.exceptAll(o_buyers).withColumn("bucket", F.lit("f_only"))
    o_only = o_buyers.exceptAll(f_buyers).withColumn("bucket", F.lit("o_only"))
    return both.unionByName(f_only).unionByName(o_only)


_SETOPS_SQL = """
WITH f_buyers AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
     o_buyers AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
SELECT o_custkey, 'both' AS bucket FROM (SELECT o_custkey FROM f_buyers INTERSECT SELECT o_custkey FROM o_buyers)
UNION ALL
SELECT o_custkey, 'f_only' AS bucket FROM (SELECT o_custkey FROM f_buyers EXCEPT SELECT o_custkey FROM o_buyers)
UNION ALL
SELECT o_custkey, 'o_only' AS bucket FROM (SELECT o_custkey FROM o_buyers EXCEPT SELECT o_custkey FROM f_buyers)
"""


# ---------------------------------------------------------------------------
# Scalar function coverage: dates, JSON, strings
# ---------------------------------------------------------------------------

def date_daily_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            money_sum(F.col("value")).alias("value_sum"),
        )
    )


_DATE_DAILY_SQL = """
SELECT
  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
  event_type,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
FROM events
GROUP BY 1, 2
"""


def date_parts_of_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("price_sum"),
        )
    )


_DATE_PARTS_SQL = """
SELECT
  CAST(year(o_orderdate) AS INT) AS order_year,
  CAST(quarter(o_orderdate) AS INT) AS order_quarter,
  COUNT(*) AS n_orders,
  CAST(SUM(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS price_sum
FROM orders
GROUP BY 1, 2
"""


def json_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction is total and engine-symmetric on hostile props:
    malformed JSON, a non-numeric k, and NULL all yield NULL (Spark's
    get_json_object is already total; the oracle guards with
    json_valid + TRY_CAST), and non-integer numerics go through an
    explicit DOUBLE-then-truncate in BOTH engines — Spark's bare
    string→bigint cast truncates where DuckDB's rounds. The outer
    DOUBLE→BIGINT step uses try_cast on BOTH sides (round-7 ADVICE):
    valid-JSON k values like 1e300, "Infinity", or "NaN" parse to
    non-finite/overflowing doubles, where Spark's non-ANSI cast would
    silently yield 2^63-1 or 0 and DuckDB's plain CAST would throw —
    try_cast maps all of them to NULL in both engines. One residual
    corner needs an explicit guard: at exactly 2^63 Spark's ANSI
    overflow check (floor(d) > Long.MaxValue.toDouble, both 2^63 as
    doubles) passes and saturates to 2^63-1 while DuckDB's strict
    `< 2^63` bound yields NULL, so the Spark side pre-filters with the
    same strict bound before try_cast."""
    events = load_table(spark, sf_dir, "events")
    kd = F.get_json_object(F.col("props"), "$.k").cast("double")
    k = F.when(kd < float(2**63), kd.try_cast("bigint"))
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("k_sum"),
            (F.sum("k") / F.count("k")).alias("k_avg"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


_JSON_PROPS_SQL = """
SELECT
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(k) AS BIGINT) AS k_sum,
  CAST(SUM(k) AS DOUBLE) / COUNT(k) AS k_avg,
  MIN(k) AS k_min,
  MAX(k) AS k_max
FROM (
  SELECT event_type,
         TRY_CAST(trunc(TRY_CAST(json_extract_string(
                CASE WHEN json_valid(props) THEN props END, '$.k')
              AS DOUBLE)) AS BIGINT) AS k
  FROM events
)
GROUP BY event_type
"""


def string_part_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    # Pinned NULL-concat rule (round-10 layer 2): brand_type NULL-
    # PROPAGATES (F.concat, like SQL ||) — concat_ws silently skips
    # NULL parts, minting 'Brand#1' where the oracle's || yields NULL
    return (
        part.select(
            "p_partkey",
            F.upper(F.col("p_brand")).alias("brand_upper"),
            F.substring_index(F.col("p_name"), " ", 1).alias("name_head"),
            F.length(F.col("p_name")).cast("bigint").alias("name_len"),
            F.concat(F.col("p_brand"), F.lit("|"), F.col("p_type")).alias(
                "brand_type"
            ),
            F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
        )
    )


_STRING_PART_SQL = """
SELECT
  p_partkey,
  UPPER(p_brand) AS brand_upper,
  -- DuckDB's split_part maps NULL input to '' — NULL-propagate to
  -- match Spark's substring_index (a NULL name has no head)
  CASE WHEN p_name IS NULL THEN NULL
       ELSE split_part(p_name, ' ', 1) END AS name_head,
  LENGTH(p_name) AS name_len,
  p_brand || '|' || p_type AS brand_type,
  LPAD(CAST(p_size AS VARCHAR), 3, '0') AS size_padded
FROM part
"""


# ---------------------------------------------------------------------------
# Sorts / limits
# ---------------------------------------------------------------------------

def sort_global_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # global top-k: Spark plans TakeOrderedAndProject — per-partition
    # heaps + single driver merge, no full sort at scale
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .limit(20)
    )


_SORT_TOP_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Pivot: order-status counts per market segment
# ---------------------------------------------------------------------------

def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return piv.select(
        "c_mktsegment",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s}") for s in ("F", "O", "P")],
    )


_PIVOT_SQL = """
SELECT c_mktsegment,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_F,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_O,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_P
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Subqueries: scalar (uncorrelated) + IN
# ---------------------------------------------------------------------------

def subquery_big_building_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # threshold derives from an exact MAX (not a float-order-dependent
    # AVG) so the filter boundary is identical in both engines
    return bind_sql(
        spark,
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM {orders}
        WHERE o_totalprice > (SELECT MAX(o_totalprice) * 0.5 FROM {orders})
          AND o_custkey IN (
              SELECT c_custkey FROM {customer} WHERE c_mktsegment = 'BUILDING'
          )
        """,
        orders=orders,
        customer=cust,
    )


_SUBQUERY_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT MAX(o_totalprice) * 0.5 FROM orders)
  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
"""


# ---------------------------------------------------------------------------
# Schema-aligned union of heterogeneous entities
# ---------------------------------------------------------------------------

def union_account_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"),
        F.col("c_custkey").alias("entity_id"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").alias("nationkey"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_acctbal").alias("acctbal"),
        F.col("s_nationkey").alias("nationkey"),
    )
    return cust.unionByName(sup)


_UNION_SQL = """
SELECT 'customer' AS kind, c_custkey AS entity_id, c_acctbal AS acctbal, c_nationkey AS nationkey
FROM customer
UNION ALL
SELECT 'supplier', s_suppkey, s_acctbal, s_nationkey FROM supplier
"""


# ---------------------------------------------------------------------------
# Map functions: build, explode
# ---------------------------------------------------------------------------

def map_order_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build + explode an attribute map. Pinned NULL rule (round-10
    layer 2): a NULL attribute VALUE is still an attribute — built
    with ``create_map`` (holds NULL values) rather than str_to_map
    over a concat, which NULL-propagates and silently drops BOTH map
    entries for any order with one NULL field."""
    orders = load_table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("prio"), F.col("o_orderpriority"),
    )
    return orders.select(
        "o_orderkey", F.explode(m).alias("attr_key", "attr_value")
    )


_MAP_SQL = """
SELECT o_orderkey, 'status' AS attr_key, o_orderstatus AS attr_value FROM orders
UNION ALL
SELECT o_orderkey, 'prio', o_orderpriority FROM orders
"""


# ---------------------------------------------------------------------------
# Calendar densification: daily event counts with zero-filled gaps
# ---------------------------------------------------------------------------

# Moments (variance/stddev/correlation) are computed from exact integer
# co-moments (scaled round + BIGINT sums, final double formula) instead
# of Spark's streaming aggregators — the built-ins are float-order-
# dependent and can't hash-match an oracle across partitionings; the
# co-moment form is bit-reproducible at any parallelism.
def date_densified_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    days = spark.sql(
        """
        SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30',
                                INTERVAL 1 DAY)) AS day
        """
    ).select(F.date_format("day", "yyyy-MM-dd").alias("day"))
    per_day = events.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n_events"))
    return (
        days.join(per_day, "day", "left")
        .select("day", F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"))
    )


_DENSIFY_SQL = """
WITH days AS (
  SELECT strftime(d, '%Y-%m-%d') AS day
  FROM (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                      INTERVAL 1 DAY)) AS d)
),
per_day AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, COUNT(*) AS n_events
  FROM events GROUP BY 1
)
SELECT days.day, COALESCE(per_day.n_events, 0) AS n_events
FROM days LEFT JOIN per_day ON days.day = per_day.day
"""


# ---------------------------------------------------------------------------
# UNPIVOT (wide -> long reshape), the inverse of the pivot operator
# ---------------------------------------------------------------------------

def unpivot_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long reshape via the ``stack`` generator (Spark's
    UNPIVOT): one row per (customer, metric). Map-only — the
    generator multiplies rows without any shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.expr(
            "stack(2, 'acctbal', c_acctbal, 'nationkey', CAST(c_nationkey AS DOUBLE))"
        ).alias("metric", "val"),
    )


_UNPIVOT_SQL = """
SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
UNION ALL
SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val FROM customer
"""


# ---------------------------------------------------------------------------
# LATERAL correlated subquery: top-2 orders per customer
# ---------------------------------------------------------------------------


def lateral_top2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL LATERAL form of per-group top-k. Catalyst decorrelates the
    correlated LIMIT subquery into row_number + filter + broadcast
    join — but (observed on Spark 4.1) it keeps the subquery's ORDER
    BY as a GLOBAL range-sort exchange before the window's hash
    exchange, one exchange more than the hand-written window form
    (``window_topk_orders_per_customer``, which also gets the
    WindowGroupLimit pushdown). So: the LATERAL surface is supported
    and correct, and at 100 TB the window spelling is the one to
    reach for — this plan difference is the documented reason.
    Customers with no orders are absent (inner lateral)."""
    return bind_sql(
        spark,
        """
        SELECT c.c_custkey, t.o_orderkey, t.total_units
        FROM {customer} c
        JOIN LATERAL (
          SELECT o_orderkey,
                 TRY_CAST(ROUND(o_totalprice) AS BIGINT) AS total_units
          FROM {orders} o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.total_units
FROM customer c,
LATERAL (
  SELECT o_orderkey,
         TRY_CAST(ROUND(o_totalprice) AS BIGINT) AS total_units
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
"""


# ---------------------------------------------------------------------------
# VARIANT: open-schema semi-structured pipeline
# ---------------------------------------------------------------------------


def json_variant_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT round-trip: build a nested JSON document from typed
    columns, parse it into Spark 4's VARIANT type, and extract typed
    values back out with ``variant_get`` path expressions. VARIANT is
    the open-schema answer for event payloads at scale — binary-encoded
    (no re-parse per access), shreddable, and schema-on-read — and a
    hash match against an oracle over the ORIGINAL columns proves the
    build→parse→extract loop is lossless. The aggregation groups on an
    extracted field, so extraction feeds a real plan, not a projection
    demo."""
    ev = load_table(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("user_id").alias("u"),
            F.struct(
                F.col("event_type").alias("t"), F.col("value").alias("v")
            ).alias("m"),
        )
    )
    v = F.parse_json(doc)
    extracted = ev.select(
        F.variant_get(v, "$.m.t", "string").alias("etype"),
        F.variant_get(v, "$.u", "bigint").alias("uid"),
        F.variant_get(v, "$.m.v", "double").alias("val"),
    )
    return extracted.groupBy("etype").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("uid").alias("n_users"),
        F.sum(cents(F.col("val"))).alias("value_cents"),
    )


_VARIANT_SQL = """
SELECT event_type AS etype,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Array higher-order functions: per-order quantity profile
# ---------------------------------------------------------------------------


def array_hof_quantity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array HOF suite (aggregate / filter / exists / element_at)
    over a per-order quantity array. Quantities become integer cents
    BEFORE collection so the lambda-fold sum is associative-exact at
    any parallelism; the array is sorted so the column is deterministic
    too. All lambdas run as JVM codegen (no Python) — the point of
    HOFs over a UDF.

    Pinned NULL/contract rule (round-10 layer 2): quantities are
    contract-bounded ([1, 50]) and a NULL/corrupt quantity is not an
    item — Spark's collect_list silently drops NULLs while the
    oracle's COUNT(*)/BOOL_OR count the row, so the exclusion happens
    explicitly BEFORE grouping, identically on both sides."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", qty_scaled("l_quantity").alias("qc")
    ).where(F.col("qc").isNotNull())
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("qc")).alias("q")
    )
    return arr.select(
        "l_orderkey",
        F.size("q").alias("n_items"),
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "qty_cents"
        ),
        F.size(F.filter("q", lambda x: x > 2500)).alias("n_big"),
        F.element_at("q", 1).alias("q_min_cents"),
        F.element_at("q", -1).alias("q_max_cents"),
        F.exists("q", lambda x: x % 100 != 0).alias("has_fractional"),
    )


_ARRAY_HOF_SQL = f"""
SELECT l_orderkey,
       COUNT(*) AS n_items,
       CAST(SUM(qc) AS BIGINT) AS qty_cents,
       CAST(COUNT(CASE WHEN qc > 2500 THEN 1 END) AS INTEGER) AS n_big,
       MIN(qc) AS q_min_cents,
       MAX(qc) AS q_max_cents,
       BOOL_OR(qc % 100 <> 0) AS has_fractional
FROM (
  SELECT l_orderkey, {qty_scaled_sql('l_quantity')} AS qc
  FROM lineitem
)
WHERE qc IS NOT NULL
GROUP BY l_orderkey
"""


# ---------------------------------------------------------------------------
# SCD2: validity intervals from an event log
# ---------------------------------------------------------------------------


#   * SCD2 interval construction (validity ranges from an event log),
def scd2_customer_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 construction: each order is a
    change event to the customer's cumulative spend; lead() closes the
    validity interval, the open row gets the sentinel end date. This is
    the standard merge-free SCD2 build — one window per customer
    partition, no self-join.

    Hostile-ingest rules (round-10 layer 2): a change event needs a
    valid business date (NULL dates order differently per engine,
    re-linking every validity interval) and cents are money-domain
    bounded (a castable absurd value wraps Spark's running SUM where
    DuckDB widens)."""
    orders = load_table(spark, sf_dir, "orders").where(
        tpch_date_valid("o_orderdate")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.lead(F.date_format("o_orderdate", "yyyy-MM-dd"), 1, "9999-12-31")
        .over(w)
        .alias("valid_to"),
        F.row_number().over(w).alias("n_orders_to_date"),
        F.sum(money_rounded("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_spend_cents"),
    )


_SCD2_SQL = f"""
SELECT o_custkey AS custkey,
       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
       COALESCE(
         LEAD(strftime(o_orderdate, '%Y-%m-%d'))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
         '9999-12-31') AS valid_to,
       CAST(ROW_NUMBER()
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         AS INTEGER) AS n_orders_to_date,
       CAST(SUM({money_rounded_sql('o_totalprice')})
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_spend_cents
FROM orders
WHERE {tpch_date_valid_sql('o_orderdate')}
"""


QUERIES = {
    "setops_buyer_segments": setops_buyer_segments,
    "date_daily_event_stats": date_daily_event_stats,
    "date_parts_of_orders": date_parts_of_orders,
    "json_event_props": json_event_props,
    "string_part_catalog": string_part_catalog,
    "sort_global_top_orders": sort_global_top_orders,
    "date_densified_daily_events": date_densified_daily_events,
    "map_order_attributes": map_order_attributes,
    "pivot_status_by_segment": pivot_status_by_segment,
    "subquery_big_building_orders": subquery_big_building_orders,
    "union_account_entities": union_account_entities,
    "unpivot_customer_metrics": unpivot_customer_metrics,
    "lateral_top2_orders_per_customer": lateral_top2_orders_per_customer,
    "json_variant_nested": json_variant_nested,
    "array_hof_quantity_profile": array_hof_quantity_profile,
    "scd2_customer_order_history": scd2_customer_order_history,
}

ORACLE = {
    "setops_buyer_segments": _SETOPS_SQL,
    "date_daily_event_stats": _DATE_DAILY_SQL,
    "date_parts_of_orders": _DATE_PARTS_SQL,
    "json_event_props": _JSON_PROPS_SQL,
    "string_part_catalog": _STRING_PART_SQL,
    "sort_global_top_orders": _SORT_TOP_SQL,
    "date_densified_daily_events": _DENSIFY_SQL,
    "map_order_attributes": _MAP_SQL,
    "pivot_status_by_segment": _PIVOT_SQL,
    "subquery_big_building_orders": _SUBQUERY_SQL,
    "union_account_entities": _UNION_SQL,
    "unpivot_customer_metrics": _UNPIVOT_SQL,
    "lateral_top2_orders_per_customer": _LATERAL_SQL,
    "json_variant_nested": _VARIANT_SQL,
    "array_hof_quantity_profile": _ARRAY_HOF_SQL,
    "scd2_customer_order_history": _SCD2_SQL,
}
