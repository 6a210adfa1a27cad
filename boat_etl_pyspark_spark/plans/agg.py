"""Aggregate statistics over the fixture tables: summaries, quantiles,
sketches, tests of inference and their effect sizes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import track_persist
from ..functions.numeric import cents, money_avg, money_sum
from ..operators.library import global_rank
from ..sources.readers import load_table
from . import contract
from .contract import (
    money_cents,
    money_cents_sql,
    money_domain,
    money_domain_sql,
    money_rounded,
    money_rounded_sql,
    qty_scaled,
    qty_scaled_sql,
    rate_scaled_sql,
    revenue_cents,
    revenue_cents_sql,
)
from .ml import _SCORE_GRID_CENTS


# ---------------------------------------------------------------------------
# Bitmap aggregation: per-user engagement bitmask via bit_or
# ---------------------------------------------------------------------------

_EVENT_BITS = "CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END"


def agg_user_engagement_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__bm_events")
    return spark.sql(
        f"""
        WITH u AS (
          SELECT user_id,
                 bit_or({_EVENT_BITS}) AS engagement_bits,
                 COUNT(*) AS n_events
          FROM __bm_events GROUP BY user_id
        )
        SELECT engagement_bits,
               COUNT(*) AS n_users,
               CAST(SUM(n_events) AS BIGINT) AS total_events
        FROM u GROUP BY engagement_bits
        """
    )


_BITMAP_SQL = f"""
WITH u AS (
  SELECT user_id,
         bit_or({_EVENT_BITS}) AS engagement_bits,
         COUNT(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT engagement_bits,
       COUNT(*) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS total_events
FROM u GROUP BY engagement_bits
"""


# ---------------------------------------------------------------------------
# Histogram via width_bucket — the scalar (shuffle-free) form of the
# range-join bucketing in join_range_value_buckets
# ---------------------------------------------------------------------------

def agg_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from ..functions.numeric import money_sum

    # NaN is the one value the two engines bucket differently (DuckDB's
    # NaN compares greater than everything, so `NaN >= 350` lands it in
    # the overflow bucket; Spark's width_bucket yields NULL). NULL rows
    # keep their own NULL "unmeasured" bucket in both engines.
    ev = ev.where(F.col("value").isNull() | ~F.isnan("value"))
    bucket = F.expr("width_bucket(value, 0.0, 350.0, 7)")
    return ev.groupBy(bucket.cast("bigint").alias("bucket")).agg(
        F.count("*").alias("n_events"),
        money_sum(F.col("value")).alias("value_sum"),
    )


# DuckDB has no width_bucket; the equal-width arithmetic is identical
_WIDTH_BUCKET_SQL = """
SELECT CAST(CASE WHEN value < 0.0 THEN 0
                 WHEN value >= 350.0 THEN 8
                 ELSE floor(value / 50.0) + 1 END AS BIGINT) AS bucket,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
FROM events
WHERE value IS NULL OR NOT isnan(value)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Aggregation variants: distinct, rollup, cube, grouping sets
# ---------------------------------------------------------------------------

def agg_distinct_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        money_avg(F.col("o_totalprice")).alias("avg_price"),
    )


_AGG_DISTINCT_SQL = """
SELECT
  o_orderstatus,
  COUNT(*) AS n_orders,
  COUNT(DISTINCT o_custkey) AS n_customers,
  COUNT(DISTINCT o_orderpriority) AS n_priorities,
  CAST(SUM(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / (COUNT(o_totalprice) * 100.0) AS avg_price
FROM orders
GROUP BY o_orderstatus
"""


def agg_rollup_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup totals. Bounded cents ingest (round-10 layer 2): on a
    castable absurd balance the unbounded cents sum exceeds INT64 in
    the grand-total row, where Spark's SUM(BIGINT) silently wraps but
    DuckDB's promotes to HUGEINT — the bound keeps the sum exact in
    both engines."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            (F.sum(contract.money_rounded("c_acctbal")) / 100.0).alias(
                "acctbal_sum"
            ),
        )
    )


# HAVING COUNT(*) > 0 mirrors Spark's grouping-sets-on-empty-input
# semantics: standard SQL (and DuckDB) emit the () grand-total row
# even over zero input rows, Spark emits nothing; on non-empty input
# every rollup/cube row aggregates >= 1 row, so the guard is inert.
_AGG_ROLLUP_SQL = f"""
SELECT
  n_name, c_mktsegment,
  COUNT(*) AS n_customers,
  CAST(SUM({contract.money_rounded_sql('c_acctbal')}) AS DOUBLE) / 100.0 AS acctbal_sum
FROM customer
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
HAVING COUNT(*) > 0
"""


def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        money_sum(F.col("l_quantity")).alias("qty_sum"),
    )


_AGG_CUBE_SQL = """
SELECT
  l_returnflag, l_linestatus,
  COUNT(*) AS n_items,
  CAST(SUM(TRY_CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS qty_sum
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
HAVING COUNT(*) > 0
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS price_sum
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_AGG_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS price_sum
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
HAVING COUNT(*) > 0
"""


# ---------------------------------------------------------------------------
# Moments: variance / stddev / correlation from integer co-moments
# ---------------------------------------------------------------------------

def agg_price_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-unit price moments per status. Ingest is money-domain
    bounded (contract.money_rounded): an absurd-but-castable value's
    square overflows INT64 asymmetrically (DuckDB throws, Spark
    wraps), and the square additionally widens BEFORE the multiply
    (the welch-t precedent) so it stays exact across the domain."""
    orders = load_table(spark, sf_dir, "orders")
    v = money_rounded("o_totalprice", scale=1)  # whole currency units
    base = orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v.cast("decimal(38,0)") * v).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1").cast("double"), F.col("s2").cast("double")
    var = (s2 - s1 * s1 / n) / (n - 1)
    return base.select(
        "o_orderstatus",
        "n",
        (s1 / n).alias("mean_price"),
        var.alias("var_price"),
        F.sqrt(var).alias("stddev_price"),
    )


_MOMENTS_SQL = f"""
WITH v AS (
  SELECT o_orderstatus, {money_rounded_sql('o_totalprice', 1)} AS v
  FROM orders
), b AS (
  SELECT o_orderstatus,
         COUNT(*) AS n,
         SUM(v) AS s1,
         SUM(CAST(v AS HUGEINT) * v) AS s2
  FROM v GROUP BY o_orderstatus
)
SELECT o_orderstatus, n,
       CAST(s1 AS DOUBLE) / n AS mean_price,
       (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1) AS var_price,
       sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS stddev_price
FROM b
"""


def agg_qty_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs price per return flag from
    exact integer co-moments. Both ingests are contract-bounded
    (quantity [1,50] -> q <= 5000 centi-units; money |x| <= 1e12 ->
    p <= 1e12 whole units), which is what makes the FAST accumulation
    shape sound: q*q (<= 2.5e7) and q*p (<= 5e15) stay exact INT64
    products — only the 128-bit SUM accumulators and the p*p product
    (1e24 > INT64) widen to DECIMAL(38,0)/HUGEINT. A decimal multiply
    per row on every co-moment measured ~20x slower than this
    widen-at-the-boundary shape (round-10 bench flag)."""
    li = load_table(spark, sf_dir, "lineitem")
    # project the bounded ingests ONCE per row: aggregate arguments
    # are evaluated per aggregate function, so an unprojected form
    # runs each TRY_CAST/CASE ingest four times per row
    proj = li.select(
        "l_returnflag",
        qty_scaled("l_quantity").alias("q"),
        money_rounded("l_extendedprice", scale=1).alias("p"),
    )
    q, p = F.col("q"), F.col("p")
    base = proj.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).alias("sq"),
        F.sum(p).alias("sp"),
        F.sum((q * q).cast("decimal(38,0)")).alias("sqq"),
        F.sum(p.cast("decimal(38,0)") * p).alias("spp"),
        F.sum((q * p).cast("decimal(38,0)")).alias("sqp"),
    )
    n = F.col("n").cast("double")
    sq, sp = F.col("sq").cast("double"), F.col("sp").cast("double")
    sqq, spp, sqp = (
        F.col("sqq").cast("double"),
        F.col("spp").cast("double"),
        F.col("sqp").cast("double"),
    )
    corr = (n * sqp - sq * sp) / (
        F.sqrt(n * sqq - sq * sq) * F.sqrt(n * spp - sp * sp)
    )
    return base.select("l_returnflag", "n", corr.alias("qty_price_corr"))


_CORR_SQL = f"""
WITH v AS (
  SELECT l_returnflag,
         {qty_scaled_sql('l_quantity')} AS q,
         {money_rounded_sql('l_extendedprice', 1)} AS p
  FROM lineitem
), b AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(q) AS sq,
         SUM(p) AS sp,
         SUM(CAST(q * q AS HUGEINT)) AS sqq,
         SUM(CAST(p AS HUGEINT) * p) AS spp,
         SUM(CAST(q * p AS HUGEINT)) AS sqp
  FROM v GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (CAST(n AS DOUBLE) * sqp - CAST(sq AS DOUBLE) * sp)
         / (sqrt(CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
            * sqrt(CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)) AS qty_price_corr
FROM b
"""


# ---------------------------------------------------------------------------
# Percentiles (exact, interpolated)
# ---------------------------------------------------------------------------

def agg_acctbal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated balance percentiles per segment. Row-level
    money domain (round-10 layer 2): a NaN crossing the interpolated
    median is placed differently by the two engines' quantile
    machinery, and an out-of-domain balance is corrupt ingest — the
    BETWEEN filter (pushdown-able) excludes NULL/NaN/Inf/absurd
    identically on both sides."""
    cust = load_table(spark, sf_dir, "customer").where(
        money_domain("c_acctbal")
    )
    return cust.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.5)").alias("p50"),
        F.expr("percentile(c_acctbal, 0.9)").alias("p90"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


_PCTL_SQL = f"""
SELECT c_mktsegment,
       quantile_cont(c_acctbal, 0.5) AS p50,
       quantile_cont(c_acctbal, 0.9) AS p90,
       MIN(c_acctbal) AS min_bal,
       MAX(c_acctbal) AS max_bal
FROM customer
WHERE {money_domain_sql('c_acctbal')}
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Conditional aggregation
# ---------------------------------------------------------------------------

def agg_conditional_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.count_if(F.col("l_extendedprice") > 5000).alias("n_high_value"),
        F.count_if(F.col("l_discount") >= 0.05).alias("n_discounted"),
        F.bool_or(F.col("l_returnflag") == "R").alias("any_returned"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
    )


_COND_SQL = """
SELECT l_linestatus,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE l_extendedprice > 5000) AS n_high_value,
       COUNT(*) FILTER (WHERE l_discount >= 0.05) AS n_discounted,
       BOOL_OR(l_returnflag = 'R') AS any_returned,
       BOOL_AND(l_quantity > 0) AS all_positive_qty
FROM lineitem
GROUP BY l_linestatus
"""


# ---------------------------------------------------------------------------
# Approximate sketches, made exactly checkable: the query returns
# whether each sketch landed within its error bound vs the exact value
# ---------------------------------------------------------------------------

#   * approximate sketches (approx_count_distinct / approx_percentile)
#     — deterministic for a given dataset but not reproducible in
#     DuckDB, so exactness is asserted relative to exact values inside
#     the test suite instead (tests/test_approx.py); the contract entry
#     is exactly checkable because it returns the sketch-vs-exact error
#     bounds as booleans.
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Row-level money domain (round-10 layer 2): the within-5%
    # sketch-accuracy claim is only meaningful over valid money — a
    # two-row hostile group whose "median" interpolates across an
    # absurd value fails it vacuously. Same predicate in the oracle.
    orders = load_table(spark, sf_dir, "orders").where(
        contract.money_domain("o_totalprice")
    )
    # countDistinct must NOT share a groupBy with the sketch/percentile
    # aggregates: Spark's distinct-rewrite would pre-aggregate by
    # (status, custkey), building one HLL + percentile + KLL buffer per
    # CUSTOMER instead of per status (~100k object buffers; measured
    # 6.5s -> 1.3s at sf0.1). Two cheap aggregations + a 3-row join.
    exact_distinct = orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    sketches = orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_p50"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("approx_p50"),
    )
    # null-safe join: a NULL status is still a group in both engines'
    # GROUP BY — a plain equi-join would drop its row here only
    # (round-10 layer 2)
    per_status = exact_distinct.join(
        sketches.withColumnRenamed("o_orderstatus", "__st"),
        exact_distinct["o_orderstatus"].eqNullSafe(F.col("__st")),
    ).drop("__st")
    return per_status.select(
        "o_orderstatus",
        "exact_customers",
        (
            F.abs(F.col("approx_customers") - F.col("exact_customers"))
            <= 0.05 * F.col("exact_customers")
        ).alias("hll_within_5pct"),
        (
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            <= 0.05 * F.col("exact_p50")
        ).alias("p50_within_5pct"),
    )


_APPROX_SQL = f"""
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       TRUE AS hll_within_5pct,
       TRUE AS p50_within_5pct
FROM orders
WHERE {contract.money_domain_sql('o_totalprice')}
GROUP BY o_orderstatus
"""


# The "historical prefix" boundary for the MV-merge demo: events
# strictly before this date are the frozen base, the rest the delta.
_MV_CUTOFF = "2024-03-01"


# - ``agg_incremental_mv_merge``: materialized-view maintenance — a
#   frozen "base" aggregate over the historical prefix plus a "delta"
#   aggregate over new arrivals, merged by re-aggregating the partials
#   (SUM of sums, SUM of counts; AVG derived at the end, never merged).
#   This is the 100 TB pattern for keeping a dashboard aggregate fresh
#   without rescanning history: the base never recomputes, the delta
#   scan is bounded by the new partition, and because the partials are
#   integer cents the merge is bit-identical to a full recompute at any
#   parallelism.
def agg_incremental_mv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the MV boundary IS the time partition: a NULL-ts row falls in
    # neither base nor delta, so the merge would silently lose it while
    # the full-recompute oracle counts it — dropped symmetrically.
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.to_date("ts").alias("d"),
            cents(F.col("value")).alias("value_cents"),
        )
    )

    def partial(df: DataFrame) -> DataFrame:
        # Mergeable partials only: sums and counts. AVG is derived
        # after the merge — merging averages is the classic MV bug.
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.count("value_cents").alias("n_valued"),
            F.sum("value_cents").alias("value_cents"),
        )

    base = partial(ev.where(F.col("d") < F.lit(_MV_CUTOFF)))
    delta = partial(ev.where(F.col("d") >= F.lit(_MV_CUTOFF)))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("n_valued").alias("n_valued"),
            F.sum("value_cents").alias("value_cents"),
        )
    )
    return merged.select(
        "event_type",
        "n_events",
        "value_cents",
        (F.col("value_cents").cast("double") / (F.col("n_valued") * 100.0)).alias(
            "avg_value"
        ),
    )


# The oracle is the FULL recompute — the whole point of the merge is
# that base+delta re-aggregation equals a single pass over everything.
_MV_MERGE_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
         / (COUNT(TRY_CAST(ROUND(value * 100) AS BIGINT)) * 100.0)
         AS avg_value
FROM events
WHERE ts IS NOT NULL
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Equi-depth histogram over a DISTRIBUTED global rank
# ---------------------------------------------------------------------------

_HIST_BUCKETS = 8


#   * an equi-depth histogram via a DISTRIBUTED global rank (range
#     partition + per-partition offsets — no single-partition window),
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) histogram of order totals. The global
    rank is computed WITHOUT a single-partition window: range-partition
    on the sort key, number rows inside each partition in parallel,
    then add broadcast per-partition offsets (the same distributed
    prefix-sum shape as sequence packing). At 100 TB this is the only
    viable exact global-order primitive — rank = partition offset +
    local row_number, one range exchange total.

    Hostile-ingest rule (round-10 layer 2): cents are money-domain
    bounded and a NULL (corrupt) price has no rank — engine NULL
    placement differs in the order, shifting every bucket one-sided."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            money_rounded("o_totalprice").alias("price_cents"),
        )
        .where(F.col("price_cents").isNotNull())
    )
    n_total = orders.count()  # bounded scalar (single long)
    parts = min(32, max(2, n_total // 1000))
    # ONE fact exchange: range partition (partitions are globally
    # ordered), sort inside each partition, then read (pid, local row
    # number) off monotonically_increasing_id's bit layout — NO window
    # over the fact, so no second hashpartitioning(pid) shuffle. The
    # global rank is exact for ANY sampled range boundaries because
    # total order = (partition order, within-partition sort).
    numbered = track_persist(
        orders.repartitionByRange(parts, "price_cents", "o_orderkey")
        .sortWithinPartitions("price_cents", "o_orderkey")
        .withColumn("mid", F.monotonically_increasing_id())
        .withColumn("pid", F.expr("CAST(mid DIV 8589934592 AS INT)"))  # id >> 33
        .withColumn("local_rn", F.expr("mid % 8589934592 + 1"))
        # Same correctness fence as operators.library.global_rank: the
        # offsets aggregate and the join both consume this relation,
        # and two executions of the SAMPLED range shuffle may draw
        # different boundaries (observed divergence with cached inputs
        # under AQE). The persist pins one materialization.
    )
    # per-partition row counts -> broadcastable offsets (<= #partitions
    # rows; the SinglePartition window below runs on that bounded side)
    offsets = (
        numbered.groupBy("pid")
        .count()
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("count").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("pid", "offset")
    )
    ranked = numbered.join(F.broadcast(offsets), "pid").withColumn(
        "rank", F.col("offset") + F.col("local_rn")
    )
    bucketed = ranked.withColumn(
        "bucket",
        F.expr(f"(rank - 1) * {_HIST_BUCKETS} DIV {n_total}").cast("bigint"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("n_orders"),
        F.min("price_cents").alias("lo_cents"),
        F.max("price_cents").alias("hi_cents"),
    )


_EQUIDEPTH_SQL = f"""
WITH vals AS (
  SELECT o_orderkey, {money_rounded_sql('o_totalprice')} AS price_cents
  FROM orders
), kept AS (
  SELECT * FROM vals WHERE price_cents IS NOT NULL
), ranked AS (
  SELECT price_cents,
         ROW_NUMBER() OVER (ORDER BY price_cents, o_orderkey) AS rank
  FROM kept
), n AS (SELECT COUNT(*) AS n_total FROM kept)
SELECT CAST(((rank - 1) * {_HIST_BUCKETS}) // n_total AS BIGINT) AS bucket,
       COUNT(*) AS n_orders,
       MIN(price_cents) AS lo_cents,
       MAX(price_cents) AS hi_cents
FROM ranked, n
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Statistical mode per group (deterministic tiebreak, no window)
# ---------------------------------------------------------------------------


#   * ``agg_mode_per_group`` — statistical mode with a deterministic
#     tiebreak via one max(struct) fold (no sort, no window).
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal event type per user via two-level aggregation and ONE
    max(struct) fold — no sort, no window, both levels combine
    map-side. Ties break toward the lexicographically larger type
    (encoded in the struct order), so the answer is total-order
    deterministic."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    top = counts.groupBy("user_id").agg(
        F.max(F.struct("cnt", "event_type")).alias("m"),
        F.sum("cnt").alias("n_events"),
    )
    return top.select(
        "user_id",
        F.col("m.event_type").alias("mode_event"),
        F.col("m.cnt").alias("mode_count"),
        "n_events",
    )


_MODE_SQL = """
WITH counts AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT user_id, event_type, cnt,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type DESC) AS rn,
         CAST(SUM(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
  FROM counts
)
SELECT user_id, event_type AS mode_event, cnt AS mode_count, n_events
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# HLL sketch merge (incremental distinct maintenance)
# ---------------------------------------------------------------------------


#   * ``agg_hll_partition_merge`` — HLL sketches built per month and
#     UNION-MERGED into quarterly distinct-count estimates (Spark 4
#     ``hll_sketch_agg`` / ``hll_union_agg``): the mergeable-partial
#     property that lets a warehouse maintain distinct counts
#     incrementally instead of rescanning. Checked against the exact
#     count within the sketch's error bound.
def agg_hll_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per quarter, computed by MERGING per-month
    HLL sketches (never re-scanning months): the partial-aggregation
    contract (sketch(A ∪ B) = merge(sketch(A), sketch(B))) that powers
    incremental materialized views and cross-partition rollups of
    distinct counts. At 100 TB each month's sketch is a few KB — the
    merge is free while the exact recount would re-shuffle the year.
    The driver-checked output keeps the exact count and pins the
    estimate inside the sketch's error envelope (booleans), since the
    estimate itself is legitimately approximate."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("quarter", "o_orderdate").alias("quarter"),
        F.date_trunc("month", "o_orderdate").alias("month"),
    ).agg(F.expr("hll_sketch_agg(o_custkey, 14)").alias("sk"))
    merged = monthly.groupBy("quarter").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx_customers")
    )
    exact = orders.groupBy(
        F.date_trunc("quarter", "o_orderdate").alias("quarter")
    ).agg(F.countDistinct("o_custkey").alias("exact_customers"))
    # null-safe join: a NULL order date is a (NULL) quarter group in
    # both engines' GROUP BY — a plain equi-join would drop its row
    # here only (round-10 layer 2)
    return (
        exact.join(
            merged.withColumnRenamed("quarter", "__q"),
            exact["quarter"].eqNullSafe(F.col("__q")),
        )
        .drop("__q")
        .select(
            F.date_format("quarter", "yyyy-MM").alias("quarter"),
            "exact_customers",
            (
                F.abs(F.col("approx_customers") - F.col("exact_customers"))
                <= 0.05 * F.col("exact_customers")
            ).alias("merged_hll_within_5pct"),
        )
    )


_HLL_MERGE_SQL = """
SELECT strftime(date_trunc('quarter', o_orderdate), '%Y-%m') AS quarter,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       TRUE AS merged_hll_within_5pct
FROM orders
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Exact distributed median (via the global_rank library primitive)
# ---------------------------------------------------------------------------


#   * ``agg_exact_median_distributed`` — exact median via the library's
#     ``global_rank`` (range partition + offsets; no single-partition
#     window), doubled to stay in integers for even row counts.
def agg_exact_median_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median of order totals per order status — no sketch, no
    single-partition sort: ``global_rank(partition_by=status)`` ranks
    every row within its status group with ONE range exchange over the
    whole table (groups are contiguous under (status, price) range
    partitioning), and the median rows are the two middle ranks (both
    equal for odd counts). Reported as 2x the median in integer cents
    so even-count averaging stays exact. ``percentile``-style exact
    aggregates hold per-group value buffers in memory; the rank route
    streams — the difference between 'exact median of 100 TB' working
    or not. Single pass, no driver-side loop over groups: group counts
    come from a tiny broadcast aggregate.

    Hostile-ingest rules (round-10 layer 2): cents are money-domain
    bounded (|x| <= 1e12 dollars, contract.money_rounded — the 2x
    doubling of an absurd castable value overflows INT64
    asymmetrically), and NULL cents never enter the order statistic:
    Spark ranks NULLS FIRST where DuckDB ranks NULLS LAST, so a NULL
    reaching ROW_NUMBER shifts the median pick by the NULL count in
    one engine only. A NULL/corrupt price has no order position — the
    row is excluded from rank AND count, symmetrically."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderstatus",
            money_rounded("o_totalprice").alias("price_cents"),
        )
        .where(F.col("price_cents").isNotNull())
    )
    ranked = global_rank(orders, ["price_cents"], partition_by=["o_orderstatus"])
    counts = orders.groupBy("o_orderstatus").agg(F.count("*").alias("__n"))
    lo = F.expr("(__n + 1) DIV 2")
    hi = F.expr("(__n + 2) DIV 2")
    # null-safe join key: a NULL status is still a group (the oracle's
    # PARTITION BY keeps it; a plain equi-join would drop it)
    return (
        ranked.join(
            F.broadcast(counts.withColumnRenamed("o_orderstatus", "__st")),
            ranked["o_orderstatus"].eqNullSafe(F.col("__st")),
        )
        .drop("__st")
        .where((F.col("rank") == lo) | (F.col("rank") == hi))
        .groupBy("o_orderstatus")
        .agg(
            F.sum(
                F.col("price_cents") * F.lit(2) / (hi - lo + F.lit(1))
            )
            .cast("bigint")
            .alias("median_2x_cents"),
            F.max("__n").cast("bigint").alias("n_orders"),
        )
    )


_MEDIAN_SQL = f"""
WITH vals AS (
  SELECT o_orderstatus,
         {money_rounded_sql('o_totalprice')} AS price_cents
  FROM orders
), ranked AS (
  SELECT o_orderstatus, price_cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY price_cents) AS rank,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM vals WHERE price_cents IS NOT NULL
)
SELECT o_orderstatus,
       CAST(SUM(price_cents * 2 / ((n + 2) // 2 - (n + 1) // 2 + 1)) AS BIGINT)
         AS median_2x_cents,
       CAST(MAX(n) AS BIGINT) AS n_orders
FROM ranked
WHERE rank IN ((n + 1) // 2, (n + 2) // 2)
GROUP BY o_orderstatus
"""


def agg_customer_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value deciles: rank every customer by total
    spend with the distributed ``global_rank`` (one range exchange, no
    global window), cut into 10 equal-count bands, and report each
    band's population and value share. The second production use of
    the rank primitive (after the equi-depth histogram) — decile/
    percentile banding is the standard shape for LTV, credit and
    engagement scoring at warehouse scale."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("spend_cents")
    )
    n = spend.count()  # bounded scalar
    if n == 0:
        return spark.createDataFrame(
            [], "decile bigint, n_customers bigint, "
                "decile_spend_cents bigint, min_spend_cents bigint, "
                "max_spend_cents bigint"
        )
    ranked = global_rank(spend, ["spend_cents", "o_custkey"], rows=n)
    return (
        ranked.withColumn(
            "decile", F.expr(f"(rank - 1) * 10 DIV {n}").cast("bigint")
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("spend_cents").alias("decile_spend_cents"),
            F.min("spend_cents").alias("min_spend_cents"),
            F.max("spend_cents").alias("max_spend_cents"),
        )
    )


_LTV_DECILES_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS spend_cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT spend_cents,
         ROW_NUMBER() OVER (ORDER BY spend_cents, o_custkey) AS rank,
         COUNT(*) OVER () AS n
  FROM spend
)
SELECT CAST((rank - 1) * 10 // n AS BIGINT) AS decile,
       COUNT(*) AS n_customers,
       CAST(SUM(spend_cents) AS BIGINT) AS decile_spend_cents,
       MIN(spend_cents) AS min_spend_cents,
       MAX(spend_cents) AS max_spend_cents
FROM ranked
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Mergeable histogram quantiles (sketch-style partial aggregation)
# ---------------------------------------------------------------------------

_HQ_WIDTH = 500_000  # bucket width in cents ($5k)


_HQ_SPARK = f"""
WITH o AS (
  -- bounded cents + floor-div bucketing (round-10 layer 2): DIV
  -- truncates toward zero in Spark where // floors in DuckDB, so a
  -- NEGATIVE cents value bucketed with integer division diverges;
  -- floor() over an exact double (|cents| <= 1e14 << 2^53) agrees.
  SELECT q, m, p FROM (
    SELECT date_trunc('quarter', o_orderdate) AS q,
           date_trunc('month', o_orderdate) AS m,
           {money_rounded_sql('o_totalprice')} AS p
    FROM {{orders}}
  ) WHERE p IS NOT NULL
), partials AS (
  SELECT q, m, CAST(floor(CAST(p AS DOUBLE) / {_HQ_WIDTH}) AS BIGINT) AS b,
         COUNT(*) AS c
  FROM o GROUP BY 1, 2, 3
), merged AS (
  SELECT q, b, SUM(c) AS c FROM partials GROUP BY 1, 2
), cum AS (
  SELECT q, b, c,
         SUM(c) OVER (PARTITION BY q ORDER BY b) AS cum,
         SUM(c) OVER (PARTITION BY q) AS n
  FROM merged
), est AS (
  SELECT q, n,
         MAX(CASE WHEN rn50 = 1 THEN
           b * {_HQ_WIDTH} + ((n * 50 + 99) DIV 100 - (cum - c)) * {_HQ_WIDTH} DIV c
         END) AS est_p50_cents,
         MAX(CASE WHEN rn90 = 1 THEN
           b * {_HQ_WIDTH} + ((n * 90 + 99) DIV 100 - (cum - c)) * {_HQ_WIDTH} DIV c
         END) AS est_p90_cents,
         MAX(nb) AS n_buckets
  FROM (
    SELECT *,
           CASE WHEN cum >= (n * 50 + 99) DIV 100 THEN
             row_number() OVER (PARTITION BY q, cum >= (n * 50 + 99) DIV 100
                                ORDER BY b) END AS rn50,
           CASE WHEN cum >= (n * 90 + 99) DIV 100 THEN
             row_number() OVER (PARTITION BY q, cum >= (n * 90 + 99) DIV 100
                                ORDER BY b) END AS rn90,
           COUNT(*) OVER (PARTITION BY q) AS nb
    FROM cum
  )
  GROUP BY q, n
)
SELECT date_format(q, 'yyyy-MM') AS quarter,
       CAST(n AS BIGINT) AS n_orders,
       CAST(est_p50_cents AS BIGINT) AS est_p50_cents,
       CAST(est_p90_cents AS BIGINT) AS est_p90_cents,
       CAST(n_buckets AS BIGINT) AS n_buckets
FROM est
"""


def agg_histogram_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quarterly price quantiles from MERGED per-month
    equi-width histogram partials — the mergeable-sketch contract
    (merge(hist(A), hist(B)) == hist(A ∪ B)) that lets a warehouse
    maintain quantiles incrementally: each month contributes a
    ≤#buckets-row partial, quarters merge partials without rescanning
    months, and the p50/p90 estimates interpolate inside the covering
    bucket in exact integer arithmetic. Unlike an opaque sketch, every
    step is deterministic — so the oracle hash-checks the whole
    computation, not just an error envelope."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__orders_hq")
    return spark.sql(_HQ_SPARK.format(orders="__orders_hq"))


# DuckDB: same computation; // for integer division, strftime label.
# WINDOW-FREE form (round 11): DuckDB v1.0.0's parallel window
# executor nondeterministically mislays rows across partitions on
# this cascaded-window shape (observed on the hostile sf0.01 fixture:
# the NULL-orderdate row's ROW_NUMBER landed in another quarter's
# partition ~1 run in 10; with 32 threads, 30 repeat executions of
# the old windowed oracle produced 5 distinct outputs, while
# threads=1 was 30/30 stable). Hash aggregates and joins are not
# affected, so the running sum becomes a bounded self-join over the
# merged histogram (<= a-few-hundred buckets per quarter — bucket
# count is capped by the money contract bound / bucket width, not by
# fact volume) and "the rn=1 bucket" becomes MIN(b) among buckets
# with cum >= threshold. q is mapped to an unreachable sentinel when
# NULL (date_trunc('quarter') can only yield quarter-start days,
# never Dec 31) so NULL quarters survive the equi-joins exactly like
# SQL's NULLs-group-together GROUP BY; NULLIF restores the NULL
# label. The sentinel uses CASE WHEN on the RAW column, not
# COALESCE/CASE on date_trunc's output: DuckDB v1.0.0's
# date_trunc(parquet_ts) emits a corrupt validity mask for NULL
# inputs (IS NULL reads false but every function of the value —
# epoch, ::VARCHAR, comparisons — returns NULL), so any null-test of
# the truncated value misfires and an equi-join on it drops the row.
_HQ_DUCK = f"""
WITH o AS (
  SELECT q, m, p FROM (
    SELECT CASE WHEN o_orderdate IS NULL THEN TIMESTAMP '9999-12-31 00:00:00'
                ELSE date_trunc('quarter', o_orderdate) END AS q,
           date_trunc('month', o_orderdate) AS m,
           {money_rounded_sql('o_totalprice')} AS p
    FROM orders
  ) WHERE p IS NOT NULL
), partials AS (
  SELECT q, m, CAST(floor(CAST(p AS DOUBLE) / {_HQ_WIDTH}) AS BIGINT) AS b,
         COUNT(*) AS c
  FROM o GROUP BY 1, 2, 3
), merged AS (
  SELECT q, b, CAST(SUM(c) AS BIGINT) AS c FROM partials GROUP BY 1, 2
), cum AS (
  SELECT m1.q, m1.b, m1.c, CAST(SUM(m2.c) AS BIGINT) AS cum
  FROM merged m1 JOIN merged m2 ON m1.q = m2.q AND m2.b <= m1.b
  GROUP BY m1.q, m1.b, m1.c
), tot AS (
  SELECT q, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS nb
  FROM merged GROUP BY q
), sel AS (
  SELECT c1.q,
         MIN(CASE WHEN c1.cum >= (t.n * 50 + 99) // 100 THEN c1.b END) AS b50,
         MIN(CASE WHEN c1.cum >= (t.n * 90 + 99) // 100 THEN c1.b END) AS b90
  FROM cum c1 JOIN tot t ON c1.q = t.q
  GROUP BY c1.q
)
SELECT strftime(NULLIF(t.q, TIMESTAMP '9999-12-31 00:00:00'), '%Y-%m') AS quarter,
       CAST(t.n AS BIGINT) AS n_orders,
       CAST(e50.b * {_HQ_WIDTH}
            + ((t.n * 50 + 99) // 100 - (e50.cum - e50.c)) * {_HQ_WIDTH} // e50.c
         AS BIGINT) AS est_p50_cents,
       CAST(e90.b * {_HQ_WIDTH}
            + ((t.n * 90 + 99) // 100 - (e90.cum - e90.c)) * {_HQ_WIDTH} // e90.c
         AS BIGINT) AS est_p90_cents,
       CAST(t.nb AS BIGINT) AS n_buckets
FROM tot t
JOIN sel s ON s.q = t.q
LEFT JOIN cum e50 ON e50.q = t.q AND e50.b = s.b50
LEFT JOIN cum e90 ON e90.q = t.q AND e90.b = s.b90
"""


# ---------------------------------------------------------------------------
# Per-group OLS
# ---------------------------------------------------------------------------

_OLS_SPARK = f"""
WITH pts AS (
  SELECT grp, x, y FROM (
    SELECT l_returnflag AS grp,
           {qty_scaled_sql('l_quantity', 1)} AS x,
           {money_rounded_sql('l_extendedprice')} AS y
    FROM {{lineitem}}
  ) WHERE x IS NOT NULL AND y IS NOT NULL
), sums AS (
  SELECT grp,
         COUNT(*) AS n,
         SUM(x) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM pts GROUP BY grp
), mom AS (
  SELECT grp, n, sx, sy,
         CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS num,
         CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx
           AS den,
         CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS deny
  FROM sums
)
SELECT grp,
       CAST(n AS BIGINT) AS n,
       CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6)
            AS BIGINT) AS slope_micro_cents,
       CAST(floor((CAST(sy AS DOUBLE)
                   - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                     * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) * 1e3)
            AS BIGINT) AS intercept_milli_cents,
       CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                  / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)) * 1e6)
            AS BIGINT) AS r2_micro
FROM mom
"""


_OLS_DUCK = f"""
WITH pts AS (
  SELECT grp, x, y FROM (
    SELECT l_returnflag AS grp,
           {qty_scaled_sql('l_quantity', 1)} AS x,
           {money_rounded_sql('l_extendedprice')} AS y
    FROM lineitem
  ) WHERE x IS NOT NULL AND y IS NOT NULL
), sums AS (
  SELECT grp,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pts GROUP BY grp
), mom AS (
  SELECT grp, n, sx, sy,
         CAST(n AS HUGEINT) * sxy - sx * sy AS num,
         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
         CAST(n AS HUGEINT) * syy - sy * sy AS deny
  FROM sums
)
SELECT grp,
       CAST(n AS BIGINT) AS n,
       CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6)
            AS BIGINT) AS slope_micro_cents,
       CAST(floor((CAST(sy AS DOUBLE)
                   - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                     * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) * 1e3)
            AS BIGINT) AS intercept_milli_cents,
       CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                  / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)) * 1e6)
            AS BIGINT) AS r2_micro
FROM mom
"""


#   * ``agg_linear_regression`` — per-group OLS (slope / intercept /
#     R^2) from the five classical power sums, accumulated EXACTLY:
#     per-row products fit BIGINT, the sums are carried in
#     DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so nothing overflows at
#     any scale (1e12 rows keeps every moment < 1e33), and the one
#     double division per statistic happens once at the end. The
#     map-side-combined aggregate is the whole job: regression at
#     100 TB is exactly as cheap as a COUNT(*).
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS of extendedprice (cents) on quantity per returnflag, from
    exact integer power sums. Single map-side-combined aggregate; the
    per-group finish is pure scalar math. Slope in micro-cents per
    unit, intercept in milli-cents, R^2 in micro units."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "r15_ols_lineitem"
    )
    return spark.sql(_OLS_SPARK.format(lineitem="r15_ols_lineitem"))


# ---------------------------------------------------------------------------
# Benford leading-digit profile
# ---------------------------------------------------------------------------

_BENFORD_SPARK = f"""
WITH digits AS (
  SELECT CAST(substring(CAST(abs(v) AS STRING), 1, 1) AS INT) AS digit
  FROM (
    SELECT {money_rounded_sql('o_totalprice')} AS v FROM {{orders}}
  ) WHERE v IS NOT NULL AND v <> 0
), counts AS (
  SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
), tot AS (
  SELECT digit, n, SUM(n) OVER () AS total FROM counts
)
SELECT digit,
       CAST(n AS BIGINT) AS n,
       CAST(1000000 * n DIV total AS BIGINT) AS observed_ppm,
       CAST(floor(log10(1 + CAST(1 AS DOUBLE) / digit) * 1e6) AS BIGINT)
         AS expected_ppm,
       CAST(abs(1000000 * n DIV total
                - CAST(floor(log10(1 + CAST(1 AS DOUBLE) / digit) * 1e6)
                       AS BIGINT)) AS BIGINT) AS deviation_ppm
FROM tot
"""


_BENFORD_DUCK = f"""
WITH digits AS (
  SELECT CAST(substring(CAST(abs(v) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM (
    SELECT {money_rounded_sql('o_totalprice')} AS v FROM orders
  ) WHERE v IS NOT NULL AND v <> 0
), counts AS (
  SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
), tot AS (
  SELECT digit, n, SUM(n) OVER () AS total FROM counts
)
SELECT digit,
       CAST(n AS BIGINT) AS n,
       CAST(1000000 * n // total AS BIGINT) AS observed_ppm,
       CAST(floor(log10(1 + CAST(1 AS DOUBLE) / digit) * 1e6) AS BIGINT)
         AS expected_ppm,
       CAST(abs(1000000 * n // total
                - CAST(floor(log10(1 + CAST(1 AS DOUBLE) / digit) * 1e6)
                       AS BIGINT)) AS BIGINT) AS deviation_ppm
FROM tot
"""


#   * ``agg_benford_profile`` — leading-digit distribution of order
#     totals vs the Benford expectation, deviations in integer ppm.
#     The anomaly-screening classic; one aggregate + a 9-row window.
def agg_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of order totals against Benford's
    law, integer ppm. One aggregate to 9 rows, then a 9-row window —
    the fraud/anomaly screen at any scale for the cost of a count."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "r15_benford_orders"
    )
    return spark.sql(_BENFORD_SPARK.format(orders="r15_benford_orders"))


# ---------------------------------------------------------------------------
# Chi-square independence
# ---------------------------------------------------------------------------

_CHI2_SPARK = """
WITH cells AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
         COUNT(*) AS o_cnt
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, o.o_orderpriority
), margins AS (
  SELECT seg, pri, o_cnt,
         SUM(o_cnt) OVER (PARTITION BY seg) AS row_tot,
         SUM(o_cnt) OVER (PARTITION BY pri) AS col_tot,
         SUM(o_cnt) OVER () AS n
  FROM cells
), terms AS (
  SELECT seg, pri, o_cnt, n,
         CAST(row_tot AS DOUBLE) * col_tot / n AS e
  FROM margins
)
SELECT CAST(max(n) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_segments,
       CAST(COUNT(DISTINCT pri) AS BIGINT) AS n_priorities,
       CAST((COUNT(DISTINCT seg) - 1) * (COUNT(DISTINCT pri) - 1)
            AS BIGINT) AS dof,
       CAST(SUM(CAST(floor((o_cnt - e) * (o_cnt - e) / e * 1e6)
                     AS BIGINT)) AS BIGINT) AS chi2_micro
FROM terms
"""


_CHI2_DUCK = """
WITH cells AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
         COUNT(*) AS o_cnt
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, o.o_orderpriority
), margins AS (
  SELECT seg, pri, o_cnt,
         SUM(o_cnt) OVER (PARTITION BY seg) AS row_tot,
         SUM(o_cnt) OVER (PARTITION BY pri) AS col_tot,
         SUM(o_cnt) OVER () AS n
  FROM cells
), terms AS (
  SELECT seg, pri, o_cnt, n,
         CAST(row_tot AS DOUBLE) * col_tot / n AS e
  FROM margins
)
SELECT CAST(max(n) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_segments,
       CAST(COUNT(DISTINCT pri) AS BIGINT) AS n_priorities,
       CAST((COUNT(DISTINCT seg) - 1) * (COUNT(DISTINCT pri) - 1)
            AS BIGINT) AS dof,
       CAST(SUM(CAST(floor((o_cnt - e) * (o_cnt - e) / e * 1e6)
                     AS BIGINT)) AS BIGINT) AS chi2_micro
FROM terms
"""


#   * ``agg_chi2_independence`` — Pearson chi-square of customer market
#     segment x order priority. The contingency table is one
#     shuffle-join + aggregate; row/column margins are windows over the
#     25-row cell relation; each cell's (O-E)^2/E term is floored to
#     integer micro units BEFORE the final sum, keeping the statistic
#     order-independent. At 100 TB the cost is the orders⋈customer
#     join — the statistic itself is free.
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between customer segment and
    order priority. One key-shuffle join feeds a 25-cell contingency
    aggregate; everything after operates on those 25 rows."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "r16_chi_orders"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "r16_chi_customer"
    )
    return spark.sql(
        _CHI2_SPARK.format(orders="r16_chi_orders", customer="r16_chi_customer")
    )


# ---------------------------------------------------------------------------
# Gini concentration of customer spend
# ---------------------------------------------------------------------------


#   * ``agg_gini_concentration`` — Gini coefficient of per-customer
#     spend via the sorted-cumulative formula G = (2·Σ i·s_i − (n+1)·
#     Σ s_i) / (n·Σ s_i). The global sort-rank comes from the
#     ``global_rank`` primitive (range exchange + broadcast offsets —
#     no single-partition window), moments accumulate in DECIMAL(38,0)
#     / HUGEINT, and one double division finishes.
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order spend. The ascending
    global rank (ties broken by custkey) comes from ``global_rank``
    — ONE range exchange over the per-customer aggregate, never a
    single-partition window — and the i·s_i moment accumulates in
    DECIMAL(38,0), overflow-proof past 1e9 customers.

    Hostile-ingest rules (round-10 layer 2): per-order cents are
    money-domain bounded and the rank·s_cents product widens BEFORE
    multiplying (rank alone reaches 1e9+; a castable absurd spend
    overflows INT64 where DuckDB throws and Spark wraps). A customer
    whose every price is corrupt has NULL spend and no position on
    the Lorenz curve — excluded symmetrically (engine NULL ordering
    differs)."""
    # persisted: global_rank's auto-sizing counts its input, and an
    # unpersisted aggregate would run twice (count + rank passes)
    spend = track_persist(
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(money_rounded("o_totalprice")).alias("s_cents"))
        .where(F.col("s_cents").isNotNull())
    )
    ranked = global_rank(spend, order_by=["s_cents", "o_custkey"])
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("s_cents").cast("bigint").alias("total_cents"),
        F.expr(
            "CAST(floor(CAST(2 * SUM(CAST(rank AS DECIMAL(38,0)) * s_cents)"
            "            - CAST(COUNT(*) + 1 AS DECIMAL(38,0))"
            "              * SUM(CAST(s_cents AS DECIMAL(38,0))) AS DOUBLE)"
            "  / CAST(CAST(COUNT(*) AS DECIMAL(38,0))"
            "         * SUM(CAST(s_cents AS DECIMAL(38,0))) AS DOUBLE)"
            " * 1e6) AS BIGINT)"
        ).alias("gini_micro"),
    )


_GINI_DUCK = f"""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM({money_rounded_sql('o_totalprice')}) AS BIGINT)
           AS s_cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT s_cents,
         ROW_NUMBER() OVER (ORDER BY s_cents, o_custkey) AS rank
  FROM spend WHERE s_cents IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(s_cents) AS BIGINT) AS total_cents,
       CAST(floor(CAST(2 * SUM(CAST(rank AS HUGEINT) * s_cents)
                       - CAST(COUNT(*) + 1 AS HUGEINT)
                         * SUM(CAST(s_cents AS HUGEINT)) AS DOUBLE)
                  / CAST(CAST(COUNT(*) AS HUGEINT)
                         * SUM(CAST(s_cents AS HUGEINT)) AS DOUBLE)
                  * 1e6) AS BIGINT) AS gini_micro
FROM ranked
"""


# least-with-NULL parity: BOTH engines' least() skips NULL operands
# (returns the smallest non-NULL; NULL only when all operands are) —
# so the frontier merge needs no NULL gymnastics on either side.


# ---------------------------------------------------------------------------
# Welch's t-test
# ---------------------------------------------------------------------------

_WELCH_SPARK = """
WITH vals AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         TRY_CAST(round(value * 100) AS BIGINT) AS v
  FROM {events}
  WHERE event_type = 'purchase'
), arms AS (
  SELECT variant,
         COUNT(*) AS n,
         CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0)) AS s2
  FROM vals GROUP BY variant
), wide AS (
  SELECT
    max(CASE WHEN variant = 'A' THEN n END) AS na,
    max(CASE WHEN variant = 'A' THEN s1 END) AS s1a,
    max(CASE WHEN variant = 'A' THEN s2 END) AS s2a,
    max(CASE WHEN variant = 'B' THEN n END) AS nb,
    max(CASE WHEN variant = 'B' THEN s1 END) AS s1b,
    max(CASE WHEN variant = 'B' THEN s2 END) AS s2b
  FROM arms
), stats AS (
  SELECT na, nb,
         CAST(s1a AS DOUBLE) / na AS ma,
         CAST(s1b AS DOUBLE) / nb AS mb,
         (CAST(na AS DOUBLE) * CAST(s2a AS DOUBLE)
          - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE))
           / (CAST(na AS DOUBLE) * (na - 1) * na) AS sea,
         (CAST(nb AS DOUBLE) * CAST(s2b AS DOUBLE)
          - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE))
           / (CAST(nb AS DOUBLE) * (nb - 1) * nb) AS seb
  FROM wide
)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(floor(ma * 10) AS BIGINT) AS mean_a_deci_cents,
       CAST(floor(mb * 10) AS BIGINT) AS mean_b_deci_cents,
       CAST(floor((ma - mb) / sqrt(sea + seb) * 1000) AS BIGINT)
         AS t_milli,
       CAST(floor((sea + seb) * (sea + seb)
                  / (sea * sea / (na - 1) + seb * seb / (nb - 1))
                  * 1000) AS BIGINT) AS dof_milli
FROM stats
"""


_WELCH_DUCK = """
WITH vals AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         TRY_CAST(round(value * 100) AS BIGINT) AS v
  FROM events
  WHERE event_type = 'purchase'
), arms AS (
  SELECT variant,
         COUNT(*) AS n,
         SUM(CAST(v AS HUGEINT)) AS s1,
         SUM(CAST(v AS HUGEINT) * v) AS s2
  FROM vals GROUP BY variant
), wide AS (
  SELECT
    max(CASE WHEN variant = 'A' THEN n END) AS na,
    max(CASE WHEN variant = 'A' THEN s1 END) AS s1a,
    max(CASE WHEN variant = 'A' THEN s2 END) AS s2a,
    max(CASE WHEN variant = 'B' THEN n END) AS nb,
    max(CASE WHEN variant = 'B' THEN s1 END) AS s1b,
    max(CASE WHEN variant = 'B' THEN s2 END) AS s2b
  FROM arms
), stats AS (
  SELECT na, nb,
         CAST(s1a AS DOUBLE) / na AS ma,
         CAST(s1b AS DOUBLE) / nb AS mb,
         (CAST(na AS DOUBLE) * CAST(s2a AS DOUBLE)
          - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE))
           / (CAST(na AS DOUBLE) * (na - 1) * na) AS sea,
         (CAST(nb AS DOUBLE) * CAST(s2b AS DOUBLE)
          - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE))
           / (CAST(nb AS DOUBLE) * (nb - 1) * nb) AS seb
  FROM wide
)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(floor(ma * 10) AS BIGINT) AS mean_a_deci_cents,
       CAST(floor(mb * 10) AS BIGINT) AS mean_b_deci_cents,
       CAST(floor((ma - mb) / sqrt(sea + seb) * 1000) AS BIGINT)
         AS t_milli,
       CAST(floor((sea + seb) * (sea + seb)
                  / (sea * sea / (na - 1) + seb * seb / (nb - 1))
                  * 1000) AS BIGINT) AS dof_milli
FROM stats
"""


#   * ``agg_welch_ttest`` — Welch's unequal-variance t-test between
#     the hash-split A/B arms over event values. Per-arm moments (n,
#     Σx, Σx²) accumulate as exact integers in one map-combined pass;
#     t and the Welch–Satterthwaite dof are fixed-shape double
#     expressions over those integers, floored to milli units.
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t between the two hash-split arms on purchase values:
    integer cent moments in one aggregate, a 2-row pivot, then
    fixed-shape double math for t and the Satterthwaite dof."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r17_welch_events"
    )
    return spark.sql(_WELCH_SPARK.format(events="r17_welch_events"))


# ---------------------------------------------------------------------------
# Exact weighted median, two-pass (coarse histogram -> refine)
# ---------------------------------------------------------------------------

_WM_BUCKETS = 1024


#   * ``agg_weighted_median_twopass`` — EXACT weighted median (by
#     quantity) of lineitem prices via coarse-histogram-then-refine:
#     pass 1 aggregates weight into 1024 equi-width value buckets (one
#     map-combined scan, 1024-row bounded collect); pass 2 touches ONLY
#     the target bucket's rows, aggregates weight per distinct value,
#     and finds the cut with a window over that bounded relation. The
#     full fact table is never globally sorted — the shape that makes
#     exact weighted quantiles viable at 100 TB.
def agg_weighted_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantity-weighted median of lineitem extended prices,
    without ever globally sorting the fact table. The lower weighted
    median is the smallest value v with 2 * cumweight(v) >= total.

    Pass 1: one map-combined scan aggregates weight into 1024
    equi-width price buckets (min/max are a bounded 1-row collect);
    the 1024-row histogram is collected and scanned on the driver to
    locate the bucket containing the half-weight point and the weight
    accumulated before it — both bounded by the bucket count, never
    by data volume. Pass 2 reads ONLY that bucket's rows (the
    predicate pushes to the scan), aggregates weight per distinct
    price, and applies a cumulative window over that bounded relation
    (distinct prices within 1/1024 of the value range). A pathological
    bucket would recurse with the same two steps; one refine level
    suffices here and the shape is what matters: exact weighted
    quantiles at 100 TB touch the data twice, lightly.

    The DuckDB oracle computes the same median with a full-sort
    window — result-identical by definition of the cut."""
    raw = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_quantity"
    )

    def _cw(df: DataFrame) -> DataFrame:
        return df.select(
            F.round(F.col("l_extendedprice") * 100).try_cast("bigint").alias("cents"),
            F.round(F.col("l_quantity")).try_cast("bigint").alias("w"),
        )

    li = _cw(raw)
    lo, hi, total, n_items = li.agg(
        F.min("cents"), F.max("cents"), F.sum("w"), F.count("*")
    ).collect()[0]
    if total is None:
        return spark.createDataFrame(
            [],
            "n_items bigint, total_weight bigint, weighted_median_cents bigint",
        )
    width = max((hi - lo) // _WM_BUCKETS + 1, 1)
    hist = (
        li.groupBy(F.expr(f"CAST((cents - {lo}) DIV {width} AS INT)").alias("b"))
        .agg(F.sum("w").alias("bw"))
        .orderBy("b")
        .collect()
    )  # bounded: <= 1024 rows
    run, before, target_b = 0, 0, hist[-1][0]
    for b, bw in hist:
        if 2 * (run + bw) >= total:
            target_b, before = b, run
            break
        run += bw
    b_lo, b_hi = lo + target_b * width, lo + (target_b + 1) * width
    # conservative raw-column pre-filter (superset of the cents band)
    # so pass 2's predicate reaches the parquet scan — the exact cents
    # bounds then re-filter the derived column. Without this, the
    # second pass would re-read the full table: round() on a scanned
    # column is not a pushable predicate.
    pruned = raw.where(
        (F.col("l_extendedprice") >= (b_lo - 1) / 100.0)
        & (F.col("l_extendedprice") <= (b_hi + 1) / 100.0)
    )
    in_bucket = (
        _cw(pruned)
        .where((F.col("cents") >= b_lo) & (F.col("cents") < b_hi))
        .groupBy("cents")
        .agg(F.sum("w").alias("w"))
    )
    in_bucket.createOrReplaceTempView("r19_wm_bucket")
    return spark.sql(
        f"""
        WITH c AS (
          SELECT cents,
                 SUM(w) OVER (ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) AS cw
          FROM r19_wm_bucket
        )
        SELECT CAST({n_items} AS BIGINT) AS n_items,
               CAST({total} AS BIGINT) AS total_weight,
               CAST(MIN(cents) AS BIGINT) AS weighted_median_cents
        FROM c WHERE 2 * ({before} + cw) >= {total}
        """
    )


_WM_DUCK = """
WITH v AS (
  SELECT TRY_CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         TRY_CAST(round(l_quantity) AS BIGINT) AS w
  FROM lineitem
), g AS (
  SELECT cents, SUM(w) AS w FROM v GROUP BY cents
), c AS (
  SELECT cents,
         SUM(w) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cw,
         (SELECT SUM(w) FROM g) AS tot
  FROM g
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_items,
       CAST(MIN(tot) AS BIGINT) AS total_weight,
       CAST(MIN(cents) AS BIGINT) AS weighted_median_cents
FROM c WHERE 2 * cw >= tot
"""


# ---------------------------------------------------------------------------
# Poisson bootstrap CI
# ---------------------------------------------------------------------------

# 60 resamples = 12 md5 evaluations per unit, each 128-bit digest
# feeding FIVE resamples (6 hex chars of uniform each), and NO row
# multiplication: the 60 multiplicities become 120 wide aggregate
# columns over the unexploded pass. Measured at sf0.1: naive
# per-(order,resample) explode 10.0s; digest-amortized explode 6.6s;
# this explosion-free cluster form ~2.0s warm — and at 100 TB the
# difference is a 60x fact blow-up that never happens.
_BOOT_PER_H = 5


_BOOT_J = 12


_BOOT_B = _BOOT_PER_H * _BOOT_J


# Poisson(1) inverse CDF over u = 6 hex chars / 16^6, as cumulative
# thresholds scaled to 16^6 = 16777216:
#   P(X<=0)=e^-1=0.36788, <=1: 0.73576, <=2: 0.91970, <=3: 0.98101,
#   <=4: 0.99634, <=5: 0.99941  (>=6 collapsed into 6 — the error is
#   ~1e-4 of one row's weight and identical in both engines)
_POIS_T = [6172840, 12345680, 15430100, 16458567, 16715718, 16767148]


def _pois_case(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {branches} ELSE 6 END"


def _boot_sql(orders: str, key_j: str, hex2int: str, big: str, div: str) -> str:
    """Build the bootstrap SQL for one engine.

    ``key_j`` formats the md5 input for digest-block ``j``; ``hex2int``
    turns 6 hex chars of digest column ``h{j}`` at 1-based offset
    ``off`` into a BIGINT. Everything else is engine-shared: 12 digest
    columns, 60 multiplicity columns (Poisson(1) inverse CDF), 120
    wide aggregates over the UNEXPLODED scan, then a 60-row unpivot
    (CASE over a resample-id relation) feeding the order-statistic CI.
    """
    hcols = ",\n         ".join(
        f"md5({key_j.format(j=j)}) AS h{j}" for j in range(_BOOT_J)
    )
    mcols = []
    for b in range(_BOOT_B):
        j, k = divmod(b, _BOOT_PER_H)
        u = hex2int.format(j=j, off=k * 6 + 1)
        mcols.append(f"{_pois_case(f'CAST({u} AS BIGINT)')} AS m{b}")
    aggs = ",\n         ".join(
        f"SUM(m{b}) AS n{b}, SUM(m{b} * CAST(cents AS {big})) AS s{b}"
        for b in range(_BOOT_B)
    )
    mu_case = " ".join(
        f"WHEN b = {b} THEN CAST(s{b} AS DOUBLE) / n{b}"
        for b in range(_BOOT_B)
    )
    n_case = " ".join(f"WHEN b = {b} THEN n{b}" for b in range(_BOOT_B))
    bvals = ", ".join(f"({b})" for b in range(_BOOT_B))
    mjoin = ",\n         ".join(mcols)
    return f"""
WITH r0 AS (
  -- bounded cents (round-10 layer 2): an absurd castable spend pushes
  -- the resample sums past 2^53, where the DECIMAL->DOUBLE and
  -- HUGEINT->DOUBLE conversions round a 1-ulp apart and the CI floor
  -- flips; a customer with no valid spend has no resample weight
  SELECT o_custkey,
         SUM({money_rounded_sql('o_totalprice')}) AS cents
  FROM {orders} GROUP BY o_custkey
), r AS (
  SELECT * FROM r0 WHERE cents IS NOT NULL
), h AS (
  SELECT cents,
         {hcols}
  FROM r
), m AS (
  SELECT cents,
         {mjoin}
  FROM h
), res AS (
  SELECT {aggs}
  FROM m
), bseq(b) AS (
  VALUES {bvals}
), means AS (
  SELECT b, CASE {mu_case} END AS mu
  FROM res CROSS JOIN bseq
  WHERE (CASE {n_case} END) > 0
), ranked AS (
  SELECT b, mu, ROW_NUMBER() OVER (ORDER BY mu, b) AS rk,
         COUNT(*) OVER () AS nb
  FROM means
)
SELECT CAST(MAX(nb) AS BIGINT) AS n_resamples,
       CAST(SUM(CAST(floor(mu) AS BIGINT)) {div} MAX(nb) AS BIGINT)
         AS boot_mean_cents,
       CAST(floor(MIN(CASE WHEN rk = greatest(nb * 5 {div} 100, 1)
                           THEN mu END)) AS BIGINT) AS ci_lo_cents,
       CAST(floor(MIN(CASE WHEN rk = least(nb * 95 {div} 100 + 1, nb)
                           THEN mu END)) AS BIGINT) AS ci_hi_cents
FROM ranked
"""


#   * ``agg_bootstrap_ci_poisson`` — bootstrap confidence interval for
#     mean customer spend via the POISSON bootstrap: each CUSTOMER's
#     multiplicity in resample b is Poisson(1), drawn deterministically
#     from md5(key, b), so resample-with-replacement becomes a map-side
#     expression — the bootstrap that works when units are distributed
#     and n is unknown upfront (the Bag of Little Bootstraps /
#     streaming-bootstrap building block). Resampling whole customers,
#     not orders, is also the statistically honest unit (orders within
#     a customer are correlated — a cluster bootstrap). 60 resamples in
#     ONE pass over the per-customer aggregate with no row
#     multiplication; CI from the order statistics of a 60-row
#     relation.
def agg_bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90% cluster-bootstrap CI for mean per-customer spend, 60
    Poisson(1) resamples over the customer aggregate. Multiplicities
    are deterministic hash expressions — one md5 per (customer,
    digest-block), five resamples carved from each 128-bit digest —
    and nothing is ever row-multiplied: the 60 resamples are 120 wide
    map-combined aggregate columns over one pass, and the CI comes
    from order statistics of the 60-row means relation. No RNG state,
    no seed drift between engines or executions — the properties that
    make a bootstrap viable inside a distributed, retry-happy
    pipeline."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "r22_boot_orders"
    )
    return spark.sql(
        _boot_sql(
            orders="r22_boot_orders",
            key_j="concat(CAST(o_custkey AS STRING), ':', '{j}')",
            hex2int="conv(substr(h{j}, {off}, 6), 16, 10)",
            big="DECIMAL(38,0)",
            div="DIV",
        )
    )


_BOOT_DUCK = _boot_sql(
    orders="orders",
    key_j="CAST(o_custkey AS VARCHAR) || ':' || '{j}'",
    hex2int="('0x' || substr(h{j}, {off}, 6))",
    big="HUGEINT",
    div="//",
)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival
# ---------------------------------------------------------------------------

_KM_CORE = """
WITH t AS (
  SELECT user_id, {epoch_us} AS us, event_type FROM {events}
), u AS (
  SELECT user_id,
         MIN(us) AS start_us,
         MIN(CASE WHEN event_type = 'error' THEN us END) AS fail_us,
         MAX(us) AS last_us
  FROM t GROUP BY user_id
), d AS (
  SELECT CASE WHEN fail_us IS NOT NULL
              THEN (fail_us - start_us) {div} 86400000000
              ELSE (last_us - start_us) {div} 86400000000 END AS dur_d,
         (fail_us IS NOT NULL) AS failed
  FROM u
), alld AS (
  SELECT dur_d, COUNT(*) AS exits,
         SUM(CASE WHEN failed THEN 1 ELSE 0 END) AS ev
  FROM d GROUP BY dur_d
), r AS (
  SELECT dur_d, ev, exits,
         SUM(exits) OVER (ORDER BY dur_d
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS exited_before,
         SUM(exits) OVER () AS total
  FROM alld
), km AS (
  SELECT dur_d, ev, total - coalesce(exited_before, 0) AS n
  FROM r WHERE ev > 0
), s AS (
  -- a day where every remaining subject fails (ev = n) drives S to
  -- exactly 0 and keeps it there; ln(0) must never be evaluated
  -- (DuckDB errors, Spark silently NULLs — both wrong)
  SELECT dur_d, ev, n,
         CASE WHEN MAX(CASE WHEN ev >= n THEN 1 ELSE 0 END)
                   OVER (ORDER BY dur_d ROWS UNBOUNDED PRECEDING) = 1
              THEN 0.0
              ELSE exp(SUM(CASE WHEN ev < n
                                THEN ln(1.0 - CAST(ev AS DOUBLE) / n) END)
                       OVER (ORDER BY dur_d ROWS UNBOUNDED PRECEDING))
         END AS surv
  FROM km
)
SELECT CAST(dur_d AS BIGINT) AS day,
       CAST(n AS BIGINT) AS n_risk,
       CAST(ev AS BIGINT) AS n_events,
       CAST(floor(surv * 1e6) AS BIGINT) AS survival_micro
FROM s
"""


#   * ``agg_survival_kaplan_meier`` — Kaplan-Meier product-limit
#     survival curve for "days until a user's first error", censoring
#     users without one at their last activity. The at-risk counts come
#     from ONE cumulative window over the per-duration exit counts (no
#     correlated subquery, no per-time rescan), and the product-limit
#     runs as an ordered ln-sum — the curve relation is bounded by
#     distinct durations (days), not users.
def agg_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimate of S(t) for days-to-first-error per
    user, right-censored at last activity. n_at_risk(t) = total −
    exits-before-t comes from one cumulative window over per-day exit
    counts; the product limit is an ordered ln-sum (identical
    evaluation order on both engines, exp(−inf)→0 when a day wipes
    the risk set). All heavy lifting is the per-user aggregate; the
    curve math runs on a relation bounded by distinct days."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r23_km_events"
    )
    return spark.sql(
        _KM_CORE.format(
            events="r23_km_events", epoch_us="unix_micros(ts)", div="DIV"
        )
    )


_KM_DUCK = _KM_CORE.format(events="events", epoch_us="epoch_us(ts)", div="//")


_MW_CORE = """
WITH vals AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END AS arm,
         TRY_CAST(round(value * 100) AS BIGINT) {idiv} {grid} AS v
  FROM {events}
  WHERE event_type = 'purchase'
    AND value IS NOT NULL  -- scan-pushdown half of the predicate
    AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
    AND user_id IS NOT NULL
), pv AS (
  SELECT v,
         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c0,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS c1,
         COUNT(*) AS ct
  FROM vals GROUP BY v
), ranked AS (
  SELECT v, c0, c1, ct,
         coalesce(SUM(ct) OVER (ORDER BY v
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS before
  FROM pv
), sums AS (
  SELECT SUM(c0) AS n0, SUM(c1) AS n1,
         -- doubled midrank sum for arm 0: sum c0 * (2*min_rank + ct - 1)
         SUM(c0 * (2 * (before + 1) + ct - 1)) AS r0x2,
         SUM(CAST(ct AS {big}) * ct * ct - ct) AS tie3
  FROM ranked
)
SELECT CAST(n0 AS BIGINT) AS n_a,
       CAST(n1 AS BIGINT) AS n_b,
       CAST(r0x2 AS BIGINT) AS rank_sum_a_x2,
       CAST(r0x2 - n0 * (n0 + 1) AS BIGINT) AS u_a_x2,
       CAST(floor((CAST(r0x2 - n0 * (n0 + 1) AS DOUBLE) / 2
                   - CAST(n0 AS DOUBLE) * n1 / 2)
                  / sqrt(CAST(n0 AS DOUBLE) * n1 / 12
                         * ((n0 + n1 + 1)
                            - CAST(tie3 AS DOUBLE)
                              / ((n0 + n1) * (n0 + n1 - 1))))
                  * 1000) AS BIGINT) AS z_milli
FROM sums
"""


#   * ``agg_mann_whitney_u`` — Mann-Whitney U (Wilcoxon rank-sum) test
#     between the hash-split A/B arms over purchase values, the
#     nonparametric complement of ``agg_welch_ttest``. Midranks come
#     from PER-VALUE aggregates (count per arm + a cumulative window
#     over the distinct-value relation), so nothing ever ranks the raw
#     rows: doubled rank-sums stay exact integers, and the normal
#     approximation with tie correction is a fixed-shape double
#     expression floored to milli units.
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sum test without ranking rows: per-value counts + one
    cumulative window over DISTINCT values give exact integer doubled
    midrank sums (ties averaged by construction); U and the
    tie-corrected z are closed-form expressions over those integers.
    The fact table contributes one map-combined aggregate; the window
    relation is bounded by value cardinality, and a pathological
    cardinality would swap in the ``global_rank`` primitive unchanged."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r24_mw_events"
    )
    return spark.sql(
        _MW_CORE.format(events="r24_mw_events", big="DECIMAL(38,0)",
                        idiv="DIV", grid=_SCORE_GRID_CENTS)
    )


_MW_DUCK = _MW_CORE.format(events="events", big="HUGEINT", idiv="//",
                           grid=_SCORE_GRID_CENTS)


# ---------------------------------------------------------------------------
# Pareto / ABC analysis
# ---------------------------------------------------------------------------

_ABC_BUCKETS = 1024


_ABC_CUTS = (80, 95)  # cumulative revenue %: A above 80%-cut, B to 95%


#   * ``agg_pareto_abc`` — ABC (Pareto) inventory analysis: parts
#     classed A/B/C by cumulative revenue share (80% / 95% cuts)
#     WITHOUT globally sorting the fact table — the revenue-weighted
#     value thresholds come from the same coarse-histogram-then-refine
#     machinery as the exact weighted median, then one conditional
#     aggregate classes every part.
def agg_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class every part A/B/C by cumulative revenue share, descending
    by per-part revenue. The two thresholds (revenue values where the
    TOP-down cumulative share crosses 80% and 95%) come from a
    1024-bucket revenue-weighted histogram over per-part revenue
    (bounded collects; same refine-free coarse pass as the weighted
    median — bucket granularity is the declared resolution of the
    cut, exact within a bucket width). One conditional aggregate then
    reports each class's population and exact revenue share. The
    per-part relation is aggregated once and never globally sorted.

    Hostile-ingest rules (round-10 layer 2): revenue uses the bounded
    compound ingest (contract.revenue_cents — price domain x rate
    domain keeps cents <= 1e14, so the x1e6 ppm scaling widens to
    DECIMAL(38,0)/HUGEINT instead of wrapping), and a part with no
    valid revenue has no Pareto position: NULL rev rows are excluded
    symmetrically (they would otherwise reach the driver-side bucket
    walk as a None key)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = track_persist(
        li.groupBy("l_partkey")
        .agg(F.sum(revenue_cents()).alias("rev"))
        .where(F.col("rev").isNotNull())
    )
    lo, hi, total = per_part.agg(
        F.min("rev"), F.max("rev"), F.sum("rev")
    ).collect()[0]
    if total is None:
        return spark.createDataFrame(
            [], "abc_class string, n_parts bigint, class_cents bigint, "
                "revenue_share_ppm bigint"
        )
    width = max((hi - lo) // _ABC_BUCKETS + 1, 1)
    hist = dict(
        per_part.groupBy(
            F.expr(f"CAST((rev - {lo}) DIV {width} AS INT)").alias("b")
        )
        .agg(F.sum("rev").alias("w"))
        .collect()
    )  # bounded: <= 1024 rows
    # top-down cumulative: walk buckets from the highest value down,
    # recording the bucket floor where each cut is crossed
    cuts_abs = [total * c // 100 for c in _ABC_CUTS]
    thresholds = []
    run = 0
    ci = 0
    for b in sorted(hist, reverse=True):
        run += hist[b]
        while ci < len(cuts_abs) and run >= cuts_abs[ci]:
            thresholds.append(lo + b * width)  # bucket floor value
            ci += 1
    while len(thresholds) < len(_ABC_CUTS):
        thresholds.append(lo)
    t_a, t_b = thresholds
    classed = per_part.withColumn(
        "abc_class",
        F.when(F.col("rev") >= t_a, "A")
        .when(F.col("rev") >= t_b, "B")
        .otherwise("C"),
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").alias("n_parts"),
        F.sum("rev").alias("class_cents"),
        F.expr(
            f"CAST(CAST(SUM(rev) AS DECIMAL(38,0)) * 1000000 DIV {total}"
            " AS BIGINT)"
        ).alias("revenue_share_ppm"),
    )


def _abc_duck() -> str:
    return f"""
WITH pp0 AS (
  SELECT l_partkey,
         SUM({revenue_cents_sql()}) AS rev
  FROM lineitem GROUP BY l_partkey
), pp AS (
  SELECT * FROM pp0 WHERE rev IS NOT NULL
), bounds AS (
  SELECT MIN(rev) AS lo, MAX(rev) AS hi, SUM(rev) AS total,
         GREATEST((MAX(rev) - MIN(rev)) // {_ABC_BUCKETS} + 1, 1) AS width
  FROM pp
), hb AS (
  SELECT CAST((rev - lo) // width AS INT) AS b, SUM(rev) AS w
  FROM pp CROSS JOIN bounds GROUP BY 1
), cum AS (
  SELECT b, SUM(w) OVER (ORDER BY b DESC ROWS UNBOUNDED PRECEDING) AS run
  FROM hb
), th AS (
  SELECT
    (SELECT MAX(lo + b * width)
     FROM cum CROSS JOIN bounds
     WHERE run >= total * {_ABC_CUTS[0]} // 100) AS t_a,
    (SELECT MAX(lo + b * width)
     FROM cum CROSS JOIN bounds
     WHERE run >= total * {_ABC_CUTS[1]} // 100) AS t_b
  FROM (SELECT 1)
), classed AS (
  SELECT rev,
         CASE WHEN rev >= t_a THEN 'A'
              WHEN rev >= t_b THEN 'B'
              ELSE 'C' END AS abc_class
  FROM pp CROSS JOIN th
)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS BIGINT) AS class_cents,
       CAST(CAST(SUM(rev) AS HUGEINT) * 1000000
            // (SELECT total FROM bounds) AS BIGINT)
         AS revenue_share_ppm
FROM classed
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Spearman rank correlation
# ---------------------------------------------------------------------------

# Rank-grid resolution for the price axis, the KS quantization knob
# ported (SCALE.md "midrank machinery" section): the cumulative
# midrank window runs over DISTINCT y values, which track row count
# until they saturate at the price domain (~1.04e7 cents). 1 = exact
# cents (the fixture-scale default, identical to no knob); a
# continuous or wider-domain deployment sets a coarser grid (e.g.
# 100 = whole dollars, capping the window relation at ~1e5 rows) and
# rho becomes rho-on-the-grid, exactly as agg_ks_test's D is
# D-on-the-grid.
_SPEAR_GRID_CENTS = 1


_SPEAR_CORE = """
WITH v AS (
  SELECT TRY_CAST(round(l_quantity) AS BIGINT) AS x,
         TRY_CAST(round(l_extendedprice * 100) AS BIGINT) {idiv} {grid} AS y
  FROM {lineitem}
), rx AS (
  SELECT x, 2 * (coalesce(SUM(ct) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + 1) + ct - 1 AS r2
  FROM (SELECT x, COUNT(*) AS ct FROM v GROUP BY x)
), ry AS (
  SELECT y, 2 * (coalesce(SUM(ct) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + 1) + ct - 1 AS r2
  FROM (SELECT y, COUNT(*) AS ct FROM v GROUP BY y)
), j AS (
  SELECT rx.r2 AS a, ry.r2 AS b
  FROM v JOIN rx ON v.x = rx.x JOIN ry ON v.y = ry.y
), s AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(a AS {big})) AS sa, SUM(CAST(b AS {big})) AS sb,
         SUM(CAST(a AS {big}) * a) AS saa,
         SUM(CAST(b AS {big}) * b) AS sbb,
         SUM(CAST(a AS {big}) * b) AS sab
  FROM j
)
SELECT CAST(n AS BIGINT) AS n_items,
       CAST(floor(CAST(n * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                         * CAST(n * sbb - sb * sb AS DOUBLE))
                  * 1e6) AS BIGINT) AS spearman_rho_micro
FROM s
"""


#   * ``agg_spearman_rho`` — Spearman rank correlation between
#     lineitem quantity and price. Midranks come from per-value
#     aggregates + a cumulative window over each DISTINCT-value
#     relation (the Mann-Whitney machinery), joined back as doubled
#     integers, so the five power sums feeding Pearson-on-ranks are
#     EXACT in DECIMAL(38,0)/HUGEINT; rho is one closed-form double,
#     floored to micro units.
def agg_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman's rho without ranking rows: per-value midranks
    (doubled, so ties stay integral) come from distinct-value
    cumulative windows, join back to the fact as broadcastable rank
    maps, and Pearson over the doubled ranks uses exact
    DECIMAL/HUGEINT power sums — the doubling cancels in the
    correlation. Window relations are bounded by value cardinality
    (quantity: ~50 grid values; price: the ~10^7-value cents domain,
    a count-aggregated relation one task handles at any row count —
    and ``_SPEAR_GRID_CENTS`` is the explicit quantization knob for
    continuous/wider domains, the agg_ks_test grid ported; measured
    distinct counts per scale in SCALE.md "midrank machinery");
    the fact table contributes one aggregate pass after two hash
    joins on its own value columns. If the rank key were genuinely
    unbounded (float keys, composite keys), swap the cumulative
    window for ``operators.library.global_prefix_sum`` — the
    distributed form; measured 1.4x SLOWER at fixture scale (persist
    fence + offset broadcast dominate a 10^5-row window), which is
    why the domain-bounded window is the default here."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "r26_sp_lineitem"
    )
    return spark.sql(
        _SPEAR_CORE.format(lineitem="r26_sp_lineitem", big="DECIMAL(38,0)",
                           idiv="DIV", grid=_SPEAR_GRID_CENTS)
    )


_SPEAR_DUCK = _SPEAR_CORE.format(lineitem="lineitem", big="HUGEINT",
                                 idiv="//", grid=_SPEAR_GRID_CENTS)


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov
# ---------------------------------------------------------------------------
# ECDFs are compared on a whole-dollar grid: the grid bounds the
# cumulative-window relation by grid cardinality (~10^5 rows at any
# data scale), not by fact rows — quantization resolution is the
# explicit knob that keeps the single ordered window scalable. With
# counts na, nb and cumulative grid counts cumA, cumB, the statistic
#   D = max |cumA/na − cumB/nb| = max |cumA·nb − cumB·na| / (na·nb)
# is computed entirely in integers; only the final ppm scaling
# divides, and that is integer division too.

_KS_CORE = """
WITH v AS (
  SELECT """ + money_cents_sql("l_extendedprice", scale=1) + """ AS g, l_returnflag AS flag
  FROM {lineitem} WHERE l_returnflag IN ('R', 'N')
), cnt AS (
  SELECT g,
         SUM(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN flag = 'N' THEN 1 ELSE 0 END) AS cb
  FROM v WHERE g IS NOT NULL GROUP BY g
), cum AS (
  SELECT SUM(ca) OVER (ORDER BY g) AS cuma,
         SUM(cb) OVER (ORDER BY g) AS cumb,
         SUM(ca) OVER () AS na,
         SUM(cb) OVER () AS nb
  FROM cnt
), d AS (
  SELECT MAX(abs(CAST(cuma AS {big}) * nb - CAST(cumb AS {big}) * na))
           AS maxdiff,
         MAX(na) AS na, MAX(nb) AS nb
  FROM cum
)
SELECT CAST(na AS BIGINT) AS n_r,
       CAST(nb AS BIGINT) AS n_n,
       CAST(maxdiff * 1000000 {idiv} (CAST(na AS {big}) * nb) AS BIGINT)
         AS ks_d_ppm
FROM d
"""


#   * ``agg_ks_test`` — exact two-sample Kolmogorov–Smirnov D between
#     the returned ('R') and non-returned ('N') extended-price
#     distributions on a whole-dollar grid. The ECDF difference is kept
#     as the INTEGER ``|cumA·nB − cumB·nA|`` so the max and the final
#     ppm statistic never touch a float.
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS distance between the 'R' and 'N'
    extended-price distributions on a $1 grid. ONE fact scan: the
    sample totals ride the same single-partition grid window as the
    running counts (full-frame SUM() OVER ()), so no second
    aggregate re-reads the table. The window's cardinality is
    bounded by the grid, not the data, and D in ppm never touches a
    float."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "r27_ks_lineitem"
    )
    return spark.sql(
        _KS_CORE.format(lineitem="r27_ks_lineitem", big="DECIMAL(38,0)",
                        idiv="DIV")
    )


_KS_DUCK = _KS_CORE.format(lineitem="lineitem", big="HUGEINT", idiv="//")


# ---------------------------------------------------------------------------
# Autocorrelation of the daily revenue series
# ---------------------------------------------------------------------------

_ACF_CORE = """
WITH daily AS (
  SELECT {dayidx} AS di,
         SUM(TRY_CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM {orders} GROUP BY o_orderdate
), lagged AS (
  SELECT cents AS x,
         MAX(cents) OVER (ORDER BY di
             RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS y1,
         MAX(cents) OVER (ORDER BY di
             RANGE BETWEEN 2 PRECEDING AND 2 PRECEDING) AS y2,
         MAX(cents) OVER (ORDER BY di
             RANGE BETWEEN 3 PRECEDING AND 3 PRECEDING) AS y3,
         MAX(cents) OVER (ORDER BY di
             RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS y7
  FROM daily
), pairs AS (
  SELECT l.lag, x,
         CASE l.lag WHEN 1 THEN y1 WHEN 2 THEN y2
                    WHEN 3 THEN y3 ELSE y7 END AS y
  FROM lagged CROSS JOIN {lags}
  WHERE CASE l.lag WHEN 1 THEN y1 WHEN 2 THEN y2
                   WHEN 3 THEN y3 ELSE y7 END IS NOT NULL
), s AS (
  SELECT lag, COUNT(*) AS n,
         SUM(CAST(x AS {big})) AS sx, SUM(CAST(y AS {big})) AS sy,
         SUM(CAST(x AS {big}) * x) AS sxx,
         SUM(CAST(y AS {big}) * y) AS syy,
         SUM(CAST(x AS {big}) * y) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag_days,
       CAST(n AS BIGINT) AS n_pairs,
       CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE))
                  * 1e6) AS BIGINT) AS acf_micro
FROM s
ORDER BY lag_days
"""


#   * ``agg_autocorrelation`` — lag-{1,2,3,7} autocorrelation of the
#     daily order-revenue series. The daily series is a tiny aggregate;
#     each lag is an equi-join of the series against itself shifted by
#     the lag, and the Pearson sums are exact DECIMAL(38,0)/HUGEINT.
def agg_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-{1,2,3,7} autocorrelation of daily order revenue from ONE
    fact scan: the table collapses to a tiny per-day aggregate, and
    each lag's partner value comes from a degenerate RANGE frame
    (exactly `lag` days back) over the same day-index sort — no
    self-join, so the daily relation is never derived twice. Pairs
    exist only where both days are observed (NULL frames drop); the
    Pearson sums are exact DECIMAL(38,0)/HUGEINT."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "r27_acf_orders"
    )
    return spark.sql(
        _ACF_CORE.format(
            orders="r27_acf_orders",
            lags="(VALUES (1), (2), (3), (7)) AS l(lag)",
            dayidx="datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01')",
            big="DECIMAL(38,0)",
        )
    )


_ACF_DUCK = _ACF_CORE.format(
    orders="orders",
    lags="(VALUES (1), (2), (3), (7)) AS l(lag)",
    dayidx="CAST(o_orderdate AS DATE) - DATE '1990-01-01'",
    big="HUGEINT",
)


# ---------------------------------------------------------------------------
# Theil T inequality index
# ---------------------------------------------------------------------------

_THEIL_CORE = f"""
WITH spend0 AS (
  SELECT o_custkey AS ck,
         SUM({money_rounded_sql('o_totalprice')}) AS cents
  FROM {{orders}} GROUP BY o_custkey
), spend AS (
  -- Theil T is defined on POSITIVE spend only: ln of a negative
  -- term throws in DuckDB and mints NaN in Spark, and a NULL
  -- (all-corrupt) spend has no term — excluded symmetrically
  SELECT ck, cents FROM spend0 WHERE cents IS NOT NULL AND cents > 0
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(cents AS {{big}})) AS s
  FROM spend
), terms AS (
  SELECT t.n,
         CAST(floor((CAST(cents AS DOUBLE) * t.n / CAST(t.s AS DOUBLE))
                    * ln(CAST(cents AS DOUBLE) * t.n / CAST(t.s AS DOUBLE))
                    * 1e9) AS BIGINT) AS term
  FROM spend CROSS JOIN tot t
)
SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
       CAST(SUM(term) AS BIGINT) AS theil_term_sum_nano,
       CAST(SUM(term) {{idiv}} MAX(n) AS BIGINT) AS theil_nano
FROM terms
"""


#   * ``agg_theil_index`` — Theil T inequality index of per-customer
#     spend (the additively-decomposable cousin of Gini): per-customer
#     term floored to nano units before the sum, so the statistic is
#     order-independent and engine-exact.
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of per-customer spend: mean of (x/mu)*ln(x/mu)
    over customers with orders. Per-customer terms are floored to
    nano units BEFORE the sum (order-independent, engine-exact); the
    1-row totals relation broadcasts. The per-customer relation IS
    derived twice (totals + terms) — deliberate: it is NOT tiny at
    scale, so a full-frame window over it would serialize through
    one task, while the second derivation is a 2-column map-combined
    re-aggregate of the same pruned scan (see SCALE.md's
    multi-referenced-CTE audit for the decision rule). Theil is
    additively decomposable — the production form of 'which source
    concentrates the spend' drill-downs."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "r27_theil_orders"
    )
    return spark.sql(
        _THEIL_CORE.format(orders="r27_theil_orders", big="DECIMAL(38,0)",
                           idiv="DIV")
    )


_THEIL_DUCK = _THEIL_CORE.format(orders="orders", big="HUGEINT", idiv="//")


# ---------------------------------------------------------------------------
# Kruskal-Wallis H (k-sample rank test)
# ---------------------------------------------------------------------------
# One (group, value) count scan; everything else is windows over that
# ~150-row relation. Doubled midranks keep ties integral:
#   r2(v) = 2 * (#obs with value < v) + ct(v) + 1  ( = 2 * midrank )
# Rank sums R2_g = sum(c * r2) are exact; H uses R_g = R2_g / 2 via
#   H = 12/(N(N+1)) * sum(R_g^2 / n_g) - 3(N+1)
# and the tie correction divides by 1 - sum(t^3 - t)/(N^3 - N).

_KW_CORE = f"""
WITH base AS (
  -- contract-bounded quantity (round-10 layer 2): a NULL quantity
  -- has no rank (engine NULL ordering differs in the midrank
  -- windows) and an out-of-[1,50] one is corrupt ingest
  SELECT g, v, COUNT(*) AS c FROM (
    SELECT l_returnflag AS g, {qty_scaled_sql('l_quantity', 1)} AS v
    FROM {{lineitem}}
  ) WHERE v IS NOT NULL GROUP BY g, v
), w AS (
  SELECT g, v, c,
         SUM(c) OVER (PARTITION BY v) AS ct,
         coalesce(SUM(c) OVER (ORDER BY v
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS below,
         ROW_NUMBER() OVER (PARTITION BY v ORDER BY g) AS rnv
  FROM base
), rg AS (
  SELECT g, SUM(c) AS n_g,
         SUM(CAST(c AS {{big}}) * (2 * below + ct + 1)) AS r2,
         SUM(CASE WHEN rnv = 1
                  THEN CAST(ct AS {{big}}) * ct * ct - ct ELSE 0 END) AS tie
  FROM w GROUP BY g
), wide AS (
  SELECT SUM(n_g) AS n, SUM(tie) AS ties,
         MAX(CASE WHEN g = 'A' THEN n_g END) AS n1,
         MAX(CASE WHEN g = 'N' THEN n_g END) AS n2,
         MAX(CASE WHEN g = 'R' THEN n_g END) AS n3,
         MAX(CASE WHEN g = 'A' THEN r2 END) AS r1,
         MAX(CASE WHEN g = 'N' THEN r2 END) AS r2_,
         MAX(CASE WHEN g = 'R' THEN r2 END) AS r3
  FROM rg
), s AS (
  SELECT n, CAST(ties AS DOUBLE) AS ties,
         CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE)
           / (4.0 * CAST(n1 AS DOUBLE))
         + CAST(r2_ AS DOUBLE) * CAST(r2_ AS DOUBLE)
           / (4.0 * CAST(n2 AS DOUBLE))
         + CAST(r3 AS DOUBLE) * CAST(r3 AS DOUBLE)
           / (4.0 * CAST(n3 AS DOUBLE)) AS rsq
  FROM wide
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(2 AS BIGINT) AS dof,
       CAST(floor((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * rsq - 3.0 * (n + 1))
                  / (1.0 - ties / (CAST(n AS DOUBLE) * n * n - n))
                  * 1000) AS BIGINT) AS h_tie_corrected_milli
FROM s
"""


#   * ``agg_kruskal_wallis`` — tie-corrected Kruskal-Wallis H across
#     the three l_returnflag groups on quantity. The k-sample
#     generalization of ``agg_mann_whitney_u``, sharing its midrank
#     machinery: doubled midranks from windows over the ~150-row
#     (group, value) count relation — rows are never individually
#     ranked, and the fact table is scanned ONCE.
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Kruskal-Wallis H across the l_returnflag groups
    on quantity. ONE fact scan to a (group, value) count relation;
    doubled midranks, per-value tie terms (emitted once via a
    first-row flag) and rank sums are all windows/aggregates over
    those ~150 rows, exact in DECIMAL(38,0)/HUGEINT until the final
    closed-form double, floored to milli. The quantity grid bounds
    the window relation at any fact scale."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "r28_kw_lineitem"
    )
    return spark.sql(
        _KW_CORE.format(lineitem="r28_kw_lineitem", big="DECIMAL(38,0)")
    )


_KW_DUCK = _KW_CORE.format(lineitem="lineitem", big="HUGEINT")


# ---------------------------------------------------------------------------
# Pairwise correlation matrix in one scan
# ---------------------------------------------------------------------------
# Columns scaled to integers (quantity units, price cents, discount
# and tax basis points); every sum / square / cross-product
# accumulates exactly, and each pair's Pearson r is one closed-form
# double from the single aggregate row.

_CM_PAIRS = (
    "(VALUES ('quantity', 'extendedprice'), ('quantity', 'discount'),"
    " ('quantity', 'tax'), ('extendedprice', 'discount'),"
    " ('extendedprice', 'tax'), ('discount', 'tax')) AS p(col_a, col_b)"
)


_CM_CORE = f"""
WITH v AS (
  -- contract-bounded ingests (round-10 layer 2): a castable absurd
  -- cents value's square overflows even INT128 once multiplied by n.
  -- Complete-case rows only: engines agree SUM skips NULL, but a
  -- correlation over per-column subsets is not a correlation.
  SELECT q, e, d, t FROM (
    SELECT {qty_scaled_sql('l_quantity', 1)} AS q,
           {money_rounded_sql('l_extendedprice')} AS e,
           {rate_scaled_sql('l_discount')} AS d,
           {rate_scaled_sql('l_tax')} AS t
    FROM {{lineitem}}
  ) WHERE q IS NOT NULL AND e IS NOT NULL
        AND d IS NOT NULL AND t IS NOT NULL
), s AS (
  -- product widths are DOMAIN-justified (round-10 bench flag): with
  -- q <= 50, e <= 1e14, d,t <= 1e4 every cross-product except e*e
  -- stays exact INT64 (max e*d = 1e18 < 2^63), so only the SUM
  -- accumulators widen — a per-row 128-bit multiply on all nine
  -- co-moments measured ~2x the whole query
  SELECT COUNT(*) AS n,
         SUM(CAST(q AS {{big}})) AS sq, SUM(CAST(e AS {{big}})) AS se,
         SUM(CAST(d AS {{big}})) AS sd, SUM(CAST(t AS {{big}})) AS st,
         SUM(CAST(q * q AS {{big}})) AS sqq, SUM(CAST(e AS {{big}}) * e) AS see,
         SUM(CAST(d * d AS {{big}})) AS sdd, SUM(CAST(t * t AS {{big}})) AS stt,
         SUM(CAST(q * e AS {{big}})) AS sqe, SUM(CAST(q * d AS {{big}})) AS sqd,
         SUM(CAST(q * t AS {{big}})) AS sqt, SUM(CAST(e * d AS {{big}})) AS sed,
         SUM(CAST(e * t AS {{big}})) AS set_, SUM(CAST(d * t AS {{big}})) AS sdt
  FROM v
), pairs AS (
  SELECT p.col_a, p.col_b, s.n,
         CASE WHEN p.col_a = 'quantity' AND p.col_b = 'extendedprice'
                THEN CAST(s.n * sqe - sq * se AS DOUBLE)
              WHEN p.col_a = 'quantity' AND p.col_b = 'discount'
                THEN CAST(s.n * sqd - sq * sd AS DOUBLE)
              WHEN p.col_a = 'quantity' AND p.col_b = 'tax'
                THEN CAST(s.n * sqt - sq * st AS DOUBLE)
              WHEN p.col_a = 'extendedprice' AND p.col_b = 'discount'
                THEN CAST(s.n * sed - se * sd AS DOUBLE)
              WHEN p.col_a = 'extendedprice' AND p.col_b = 'tax'
                THEN CAST(s.n * set_ - se * st AS DOUBLE)
              ELSE CAST(s.n * sdt - sd * st AS DOUBLE) END AS cov_n,
         CASE WHEN p.col_a = 'quantity'
                THEN CAST(s.n * sqq - sq * sq AS DOUBLE)
              WHEN p.col_a = 'extendedprice'
                THEN CAST(s.n * see - se * se AS DOUBLE)
              ELSE CAST(s.n * sdd - sd * sd AS DOUBLE) END AS var_a,
         CASE WHEN p.col_b = 'extendedprice'
                THEN CAST(s.n * see - se * se AS DOUBLE)
              WHEN p.col_b = 'discount'
                THEN CAST(s.n * sdd - sd * sd AS DOUBLE)
              ELSE CAST(s.n * stt - st * st AS DOUBLE) END AS var_b
  FROM s CROSS JOIN {{pairs}}
)
SELECT col_a, col_b, CAST(n AS BIGINT) AS n_rows,
       CAST(floor(cov_n / sqrt(var_a * var_b) * 1e6) AS BIGINT)
         AS corr_micro
FROM pairs
ORDER BY col_a, col_b
"""


#   * ``agg_correlation_matrix`` — all pairwise Pearson correlations
#     among quantity / extendedprice / discount / tax from ONE scan:
#     fourteen exact DECIMAL(38,0)/HUGEINT power sums in a single
#     aggregate row, unpivoted to six (col_a, col_b) pairs against an
#     inline constant table.
def agg_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six pairwise Pearson correlations among lineitem's numeric
    columns from ONE scan: fourteen exact integer power sums in a
    single map-combined aggregate row, unpivoted against a 6-row
    inline pair table (broadcast cross join of two tiny relations).
    The per-pair r is one closed-form double, floored to micro. This
    is the feature-redundancy screen of an ML-prep pipeline at the
    cost of a single pass."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "r28_cm_lineitem"
    )
    return spark.sql(
        _CM_CORE.format(
            lineitem="r28_cm_lineitem", big="DECIMAL(38,0)", pairs=_CM_PAIRS
        )
    )


_CM_DUCK = _CM_CORE.format(lineitem="lineitem", big="HUGEINT", pairs=_CM_PAIRS)


# ---------------------------------------------------------------------------
# Levene's test (variance homogeneity)
# ---------------------------------------------------------------------------
# Two passes in the train-then-score shape (the group-means relation
# is tiny and broadcasts; the deviations pass re-reads the 2-column
# scan — the multi-referenced-CTE audit's deliberate bucket): with
# x in cents and group sums (n_g, S_g), the scaled deviation
#   W = |n_g * x - S_g| = n_g * |x - mean_g|
# is INTEGER, so SUM(W) and SUM(W^2) accumulate exactly; Levene's F
#   F = (N-k)/(k-1) * sum n_g (Zbar_g - Zbar)^2 / sum (Z - Zbar_g)^2
# with Z = W / n_g is one closed-form double over the exact sums.

_LEV_CORE = f"""
WITH x AS (
  -- bounded cents (round-10 layer 2): w^2 on a castable absurd value
  -- overflows INT128; a NULL (corrupt) price has no deviation
  SELECT g, cents FROM (
    SELECT l_returnflag AS g,
           {money_rounded_sql('l_extendedprice')} AS cents
    FROM {{lineitem}}
  ) WHERE cents IS NOT NULL
), m AS (
  SELECT g, COUNT(*) AS n_g, SUM(CAST(cents AS {{big}})) AS s_g
  FROM x GROUP BY g
), dev AS (
  SELECT x.g, m.n_g,
         abs(CAST(m.n_g AS {{big}}) * x.cents - m.s_g) AS w
  FROM x JOIN m ON x.g = m.g
), gz AS (
  SELECT g, MAX(n_g) AS n_g,
         SUM(CAST(w AS {{big}})) AS sw,
         SUM(CAST(w AS {{big}}) * w) AS sw2
  FROM dev GROUP BY g
), gd AS (
  SELECT g, n_g,
         CAST(sw AS DOUBLE) / CAST(n_g AS DOUBLE) AS sum_z,
         CAST(sw2 AS DOUBLE)
           / (CAST(n_g AS DOUBLE) * CAST(n_g AS DOUBLE)) AS sum_z2
  FROM gz
), wide AS (
  SELECT MAX(CASE WHEN g = 'A' THEN n_g END) AS n1,
         MAX(CASE WHEN g = 'N' THEN n_g END) AS n2,
         MAX(CASE WHEN g = 'R' THEN n_g END) AS n3,
         MAX(CASE WHEN g = 'A' THEN sum_z END) AS z1,
         MAX(CASE WHEN g = 'N' THEN sum_z END) AS z2,
         MAX(CASE WHEN g = 'R' THEN sum_z END) AS z3,
         MAX(CASE WHEN g = 'A' THEN sum_z2 END) AS q1,
         MAX(CASE WHEN g = 'N' THEN sum_z2 END) AS q2,
         MAX(CASE WHEN g = 'R' THEN sum_z2 END) AS q3
  FROM gd
), s AS (
  SELECT CAST(n1 + n2 + n3 AS DOUBLE) AS n,
         z1 + z2 + z3 AS tz,
         z1 * z1 / n1 + z2 * z2 / n2 + z3 * z3 / n3 AS between_raw,
         (q1 - z1 * z1 / n1) + (q2 - z2 * z2 / n2)
           + (q3 - z3 * z3 / n3) AS within,
         n1 + n2 + n3 AS n_int
  FROM wide
)
SELECT CAST(n_int AS BIGINT) AS n_rows,
       CAST(3 AS BIGINT) AS n_groups,
       CAST(floor((n - 3) / 2.0
                  * (between_raw - tz * tz / n) / within
                  * 1000) AS BIGINT) AS levene_f_milli
FROM s
"""


#   * ``agg_levene_variance_test`` — Levene's test for equality of
#     variances across the returnflag groups. Scaled absolute
#     deviations ``W = |n_g*x - S_g|`` (= n_g * |x - mean_g|) keep
#     every accumulation integer-exact; the F statistic is one
#     closed-form double over exact sums, floored to milli.
def agg_levene_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's F for equality of extended-price variances across the
    returnflag groups. The group-means pass yields a 3-row broadcast
    relation; the deviations pass accumulates |n_g*x - S_g| — an
    INTEGER, so the W and W^2 sums are exact — and F is one
    closed-form double, floored to milli. Two deliberate 2-column
    scans (absolute deviations from a mean are not decomposable into
    power sums; see SCALE.md's multi-referenced-CTE audit)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "r28_lev_lineitem"
    )
    return spark.sql(
        _LEV_CORE.format(lineitem="r28_lev_lineitem", big="DECIMAL(38,0)")
    )


_LEV_DUCK = _LEV_CORE.format(lineitem="lineitem", big="HUGEINT")


# ---------------------------------------------------------------------------
# Heavy hitters: per-partition Misra-Gries summaries + exact recount
# ---------------------------------------------------------------------------

# M counters per partition. Guarantee chain: the mergeable-summaries
# trim (subtract the (M+1)-th largest count, drop <=0) undercounts any
# key by at most n_p/(M+1) within a partition, so a key with local
# frequency f_p > n_p/(M+1) always survives pass 1. If a key's GLOBAL
# frequency is >= N/M, weighted pigeonhole gives a partition where
# f_p >= n_p/M > n_p/(M+1), hence it is in the candidate union — the
# exact pass-2 recount + threshold filter then makes the final result
# independent of partitioning entirely.
_HH_M = 64


# The fixtures are deliberately uniform (no natural hot keys — the
# same reason join_salted_revenue salts everything), so the skew is
# constructed: every third lineitem collapses onto one of five hot
# keys (~6.7% of N each, far above N/M), the rest keep their order
# key (domain of ~1.5M at sf=1, each far below N/M). The CASE is the
# demo's data generator; the operator itself never depends on it.
_HH_KEY = "CASE WHEN l_orderkey % 3 = 0 THEN l_orderkey % 5 ELSE l_orderkey END"


def _mg_summaries(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition Misra-Gries: fold each Arrow batch's exact
    value_counts into the running counter set, trimming back to
    ``_HH_M`` keys with the mergeable-summaries rule. Emits candidate
    keys as (k, 0) rows plus one (NULL, n_p) row carrying the
    partition's row count so pass 2 gets N without a third scan."""
    counters = pd.Series(dtype="int64")
    n_p = 0
    for pdf in batches:
        batch = pdf["k"].value_counts()
        n_p += int(batch.sum())
        counters = counters.add(batch, fill_value=0)
        if len(counters) > _HH_M:
            cut = counters.nlargest(_HH_M + 1).iloc[-1]
            counters = counters[counters > cut] - cut
    yield pd.DataFrame(
        {
            "k": pd.array(
                list(counters.index.astype("int64")) + [None], dtype="Int64"
            ),
            "np": pd.array([0] * len(counters) + [n_p], dtype="Int64"),
        }
    )


#   * ``agg_heavy_hitters`` — exact frequent-key detection via the
#     classic two-pass Misra-Gries shape: pass 1 summarizes every
#     partition into at most M counters (mergeable-summaries trim, so
#     the candidate union provably contains every key with global
#     frequency >= N/M), pass 2 recounts ONLY the tiny candidate set
#     exactly through a broadcast semi-join. The corpus never shuffles —
#     the only exchanged rows are per-partition summaries (<= M+1 rows
#     each) and per-candidate counts.
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys with global frequency >= N/{M}: Misra-Gries candidate pass
    (mapInPandas, one int64 column through Arrow, <= {M}+1 summary
    rows per partition) then an exact broadcast-semi-join recount.
    Two corpus scans, zero corpus shuffles — the 100 TB shape for
    hot-key detection when stats are unavailable. The final filter
    recounts candidates EXACTLY, so the result is identical for any
    partitioning (pass 1 only ever over-generates candidates).

    Pinned NULL rule (round-10 layer 2): a NULL key is not a key —
    excluded from candidates AND from n_total on both sides (pandas
    ``value_counts`` already drops NaN, so an unfiltered oracle would
    count one more row than the summaries report)."""
    fact = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.expr(_HH_KEY).cast("bigint").alias("k"))
        .where(F.col("k").isNotNull())
    )
    summary = track_persist(
        fact.mapInPandas(_mg_summaries, "k bigint, np bigint")
    )
    candidates = summary.where("k IS NOT NULL").select("k").distinct()
    total = summary.agg(F.sum("np").cast("bigint").alias("n_total"))
    counts = (
        fact.join(F.broadcast(candidates), "k")
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * _HH_M >= F.col("n_total"))
        .select(
            F.col("k").alias("hot_key"),
            F.col("cnt").cast("bigint").alias("cnt"),
            F.expr("CAST(cnt * 1000000 DIV n_total AS BIGINT)").alias(
                "share_ppm"
            ),
            "n_total",
        )
        .orderBy(F.desc("cnt"), "hot_key")
    )


_HH_SQL = f"""
WITH f AS (
  SELECT {_HH_KEY} AS k FROM lineitem
), c AS (
  SELECT k, COUNT(*) AS cnt FROM f WHERE k IS NOT NULL GROUP BY k
), t AS (
  SELECT SUM(cnt) AS n_total FROM c
)
SELECT k AS hot_key,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(cnt * 1000000 // n_total AS BIGINT) AS share_ppm,
       CAST(n_total AS BIGINT) AS n_total
FROM c, t
WHERE cnt * {_HH_M} >= n_total
ORDER BY cnt DESC, hot_key
"""


# ---------------------------------------------------------------------------
# Cross-nation basket overlap (pairwise exact Jaccard)
# ---------------------------------------------------------------------------


#   * ``agg_basket_overlap`` — exact pairwise Jaccard similarity of
#     the part baskets supplied by each nation: the distinct
#     (nation, part) presence relation is derived ONCE (persisted —
#     the multi-referenced-CTE rule; it is consumed three times), the
#     pair intersection is an equi-join on part (fan-out bounded by
#     nations-per-part <= 25, never all-pairs over rows), and Jaccard
#     is exact integer ppm. The co-occurrence similarity-matrix shape
#     for "which markets look alike".
def agg_basket_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard similarity of supplied-part baskets for every
    nation pair. The distinct (nation, part) presence relation —
    bounded by 25 x |part|, far smaller than lineitem — is derived
    once and persisted (three consumers: sizes + both join sides);
    the intersection join is equi-keyed on part, so fan-out per part
    is at most nations^2 = 625 and nothing resembling an all-pairs
    row join ever happens. Jaccard in exact integer ppm."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    pres = track_persist(
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .select(F.col("s_nationkey").alias("nation"),
                F.col("l_partkey").alias("pk"))
        .distinct()
    )
    sizes = pres.groupBy("nation").agg(F.count("*").alias("n_parts"))
    a = pres.select(F.col("nation").alias("n1"), "pk")
    b = pres.select(F.col("nation").alias("n2"), "pk")
    inter = (
        a.join(b, "pk")
        .where(F.col("n1") < F.col("n2"))
        .groupBy("n1", "n2")
        .agg(F.count("*").alias("n_inter"))
    )
    s1 = sizes.select(F.col("nation").alias("n1"),
                      F.col("n_parts").alias("n_parts_1"))
    s2 = sizes.select(F.col("nation").alias("n2"),
                      F.col("n_parts").alias("n_parts_2"))
    return (
        inter.join(F.broadcast(s1), "n1")
        .join(F.broadcast(s2), "n2")
        .select(
            "n1", "n2",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.col("n_parts_1").cast("bigint").alias("n_parts_1"),
            F.col("n_parts_2").cast("bigint").alias("n_parts_2"),
            F.expr(
                "CAST(n_inter * 1000000"
                " DIV (n_parts_1 + n_parts_2 - n_inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), "n1", "n2")
    )


_BASKET_SQL = """
WITH pres AS (
  SELECT DISTINCT s_nationkey AS nation, l_partkey AS pk
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
), sizes AS (
  SELECT nation, COUNT(*) AS n_parts FROM pres GROUP BY nation
), inter AS (
  SELECT a.nation AS n1, b.nation AS n2, COUNT(*) AS n_inter
  FROM pres a JOIN pres b ON a.pk = b.pk AND a.nation < b.nation
  GROUP BY a.nation, b.nation
)
SELECT i.n1, i.n2,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(s1.n_parts AS BIGINT) AS n_parts_1,
       CAST(s2.n_parts AS BIGINT) AS n_parts_2,
       CAST(n_inter * 1000000 // (s1.n_parts + s2.n_parts - n_inter)
            AS BIGINT) AS jaccard_ppm
FROM inter i
JOIN sizes s1 ON i.n1 = s1.nation
JOIN sizes s2 ON i.n2 = s2.nation
ORDER BY jaccard_ppm DESC, n1, n2
"""


# ---------------------------------------------------------------------------
# Trimmed / winsorized mean over the distributed rank
# ---------------------------------------------------------------------------

_TRIM_PCT = 5  # drop/clamp the lowest and highest 5% of rows


#   * ``agg_trimmed_winsorized_mean`` — 5%-trimmed and 5%-winsorized
#     means of order totals over the DISTRIBUTED global rank (range
#     exchange, never a single-partition sort): trim drops the k
#     cheapest/priciest rows by unique (value, key) rank, winsorize
#     clamps them to the boundary values; the boundary rows are two
#     1-row broadcast lookups against the same persisted ranked
#     relation. Exact integer cents until two final micro divisions.
def agg_trimmed_winsorized_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """5%-trimmed and 5%-winsorized means of order totals. Ranks come
    from ``global_rank`` on the unique (cents, orderkey) key — one
    range exchange, deterministic under ties, identical in both
    engines — so k = n*5//100 rows fall off (or clamp to the boundary
    values) on each side. The ranked relation is persisted by the
    rank primitive's correctness fence; the two boundary rows and the
    count are broadcast 1-row relations against it. Integer cents
    throughout; two final micro divisions.

    Hostile-ingest rule (round-10 layer 2): cents are money-domain
    bounded and NULL (corrupt) prices have no rank — engine NULL
    placement differs, shifting both clamp boundaries one-sided."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            money_rounded("o_totalprice").alias("price_cents"),
        )
        .where(F.col("price_cents").isNotNull())
    )
    ranked = global_rank(orders, ["price_cents", "o_orderkey"])
    n_rel = ranked.agg(
        F.count("*").alias("n"),
        F.expr(f"CAST(COUNT(*) * {_TRIM_PCT} DIV 100 AS BIGINT)").alias("k"),
    )
    with_k = ranked.crossJoin(F.broadcast(n_rel))
    lo = with_k.where("rank = k + 1").select(
        F.col("price_cents").alias("lo_clamp_cents")
    )
    hi = with_k.where("rank = n - k").select(
        F.col("price_cents").alias("hi_clamp_cents")
    )
    return (
        with_k.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            F.max("k").cast("bigint").alias("k_trim"),
            F.expr(
                "CAST(SUM(CASE WHEN rank > k AND rank <= n - k THEN"
                " CAST(price_cents AS DECIMAL(38,0)) END) * 1000000"
                " DIV (MAX(n) - 2 * MAX(k)) AS BIGINT)"
            ).alias("trimmed_mean_micro_cents"),
            F.expr(
                "CAST((SUM(CASE WHEN rank > k AND rank <= n - k THEN"
                " CAST(price_cents AS DECIMAL(38,0)) END)"
                " + MAX(k) * (MAX(lo_clamp_cents) + MAX(hi_clamp_cents)))"
                " * 1000000 DIV MAX(n) AS BIGINT)"
            ).alias("winsorized_mean_micro_cents"),
            F.max("lo_clamp_cents").cast("bigint").alias("lo_clamp_cents"),
            F.max("hi_clamp_cents").cast("bigint").alias("hi_clamp_cents"),
        )
    )


_TRIM_SQL = f"""
WITH vals AS (
  SELECT o_orderkey, {money_rounded_sql('o_totalprice')} AS price_cents
  FROM orders
), ranked AS (
  SELECT price_cents,
         ROW_NUMBER() OVER (ORDER BY price_cents, o_orderkey) AS rank,
         COUNT(*) OVER () AS n,
         COUNT(*) OVER () * {_TRIM_PCT} // 100 AS k
  FROM vals WHERE price_cents IS NOT NULL
), lo AS (
  SELECT price_cents AS lo_clamp_cents FROM ranked WHERE rank = k + 1
), hi AS (
  SELECT price_cents AS hi_clamp_cents FROM ranked WHERE rank = n - k
)
SELECT CAST(MAX(n) AS BIGINT) AS n_orders,
       CAST(MAX(k) AS BIGINT) AS k_trim,
       CAST(SUM(CASE WHEN rank > k AND rank <= n - k THEN
                CAST(price_cents AS HUGEINT) END) * 1000000
            // (MAX(n) - 2 * MAX(k)) AS BIGINT)
         AS trimmed_mean_micro_cents,
       CAST((SUM(CASE WHEN rank > k AND rank <= n - k THEN
                 CAST(price_cents AS HUGEINT) END)
             + MAX(k) * (MAX(lo_clamp_cents) + MAX(hi_clamp_cents)))
            * 1000000 // MAX(n) AS BIGINT)
         AS winsorized_mean_micro_cents,
       CAST(MAX(lo_clamp_cents) AS BIGINT) AS lo_clamp_cents,
       CAST(MAX(hi_clamp_cents) AS BIGINT) AS hi_clamp_cents
FROM ranked CROSS JOIN lo CROSS JOIN hi
"""


# ---------------------------------------------------------------------------
# Count-Min sketch (mergeable frequency estimates, audited vs exact)
# ---------------------------------------------------------------------------

_CMS_D = 4


_CMS_W = 64


_CMS_TOPN = 10


# md5 -> int row hashes, identical in both engines (the established
# idiom); row j's salt rides inside the hashed string.
_CMS_H_SPARK = (
    "CAST(conv(substring(md5(concat('cms', j, ':', {key})), 1, 8), 16, 10)"
    " AS BIGINT)"
)


_CMS_H_DUCK = (
    "CAST('0x' || substring(md5(concat('cms', j, ':', {key})), 1, 8)"
    " AS BIGINT)"
)


_CMS_CORE = f"""
WITH keyed AS (
  SELECT o_custkey AS key FROM {{orders}}
), cells AS (
  SELECT j, {{h}} % {_CMS_W} AS bucket, COUNT(*) AS cnt
  FROM keyed {{lat}}
  GROUP BY j, {{h}} % {_CMS_W}
), exact AS (
  SELECT key, COUNT(*) AS exact_cnt FROM keyed GROUP BY key
), top AS (
  SELECT key, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, key LIMIT {_CMS_TOPN}
), probes AS (
  SELECT t.key, t.exact_cnt, j, {{h_t}} % {_CMS_W} AS bucket
  FROM top t {{lat}}
), est AS (
  SELECT p.key, p.exact_cnt, MIN(c.cnt) AS cms_est
  FROM probes p
  JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
  GROUP BY p.key, p.exact_cnt
)
SELECT CAST(key AS BIGINT) AS custkey,
       CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overcount
FROM est
ORDER BY exact_cnt DESC, custkey
"""


#   * ``agg_count_min_sketch`` — mergeable Count-Min frequency sketch
#     (depth 4 x width 64, md5-derived row hashes identical in both
#     engines) audited against exact counts for the top-10 keys: the
#     classic estimate-never-undercounts contract, measured not
#     assumed.
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch of order frequency per customer (depth
    {_CMS_D} x width {_CMS_W}), audited against exact counts for the
    top-{_CMS_TOPN} customers. The sketch build is ONE map-combined
    aggregate over (row, bucket) — {_CMS_D}x{_CMS_W} cells total, the
    mergeable-sketch contract: partial sketches from any partitioning
    sum cell-wise to the same table, which is exactly why the
    structure works as a streaming/shuffle-light frequency monitor at
    100 TB (the exact `exact` relation here exists only to audit the
    estimates; production keeps just the cells). Estimates join the
    bounded probe relation (top-N x depth rows) against the tiny cell
    table; ``cms_est >= exact_cnt`` always — the one-sided error
    contract — and `overcount` measures the collision inflation at
    this width."""
    load_table(spark, sf_dir, "orders").select("o_custkey").createOrReplaceTempView(
        "r37_cms_orders"
    )
    return spark.sql(
        _CMS_CORE.format(
            orders="r37_cms_orders",
            h=_CMS_H_SPARK.format(key="key"),
            h_t=_CMS_H_SPARK.format(key="t.key"),
            lat=f"LATERAL VIEW explode(sequence(0, {_CMS_D - 1})) t_j AS j",
        )
    )


_CMS_DUCK = _CMS_CORE.format(
    orders="orders",
    h=_CMS_H_DUCK.format(key="key"),
    h_t=_CMS_H_DUCK.format(key="t.key"),
    lat=f"CROSS JOIN range({_CMS_D}) t_j(j)",
)


# ---------------------------------------------------------------------------
# Tail risk: exact VaR / CVaR per priority class
# ---------------------------------------------------------------------------

_TAIL_PCT = 5  # top-5% tail


#   * ``agg_tail_cvar`` — exact Value-at-Risk / Conditional VaR of the
#     order-value tail per priority class via ``global_rank`` (one
#     range exchange, no per-group single-task sort): the top-5%% tail
#     boundary, its conditional mean and its revenue share.
def agg_tail_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Value-at-Risk and Conditional VaR (expected shortfall) of
    order values per priority class: the tail is the top-{_TAIL_PCT}%
    of orders by value (k = max(1, n*{_TAIL_PCT}/100) rows, ties
    broken by orderkey so both engines pick the identical row set),
    VaR is the tail's entry boundary, CVaR its exact integer mean,
    plus the tail's revenue share. Ranking uses ``global_rank``
    partitioned by priority — ONE range exchange over the fact table,
    no per-group single-task window sort (the documented
    window-vs-distributed rule) — and group sizes/totals arrive as a
    5-row broadcast aggregate, so the plan is two scans + one range
    exchange at any scale.

    Hostile-ingest rules (round-10 layer 2): cents are money-domain
    bounded and NULL (corrupt) prices have no rank; a NULL priority
    is still a group (null-safe totals join, like the oracle's
    PARTITION BY); the ppm share widens before its x1e6 scaling."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            money_rounded("o_totalprice").alias("price_cents"),
            "o_orderkey",
        )
        .where(F.col("price_cents").isNotNull())
    )
    ranked = global_rank(
        orders.withColumn("neg_cents", -F.col("price_cents")),
        ["neg_cents", "o_orderkey"],
        partition_by=["o_orderpriority"],
    )
    totals = orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("__n"),
        F.sum("price_cents").alias("__total"),
    )
    tail = ranked.join(
        F.broadcast(totals.withColumnRenamed("o_orderpriority", "__pr")),
        ranked["o_orderpriority"].eqNullSafe(F.col("__pr")),
    ).where(
        F.col("rank") <= F.expr(f"greatest(1, __n * {_TAIL_PCT} DIV 100)")
    )
    return (
        tail.groupBy("o_orderpriority")
        .agg(
            F.max("__n").cast("bigint").alias("n_orders"),
            F.count("*").cast("bigint").alias("n_tail"),
            F.min("price_cents").cast("bigint").alias("var_cents"),
            F.expr("SUM(price_cents) DIV COUNT(*)").alias("cvar_cents"),
            F.expr(
                "CAST(CAST(SUM(price_cents) AS DECIMAL(38,0)) * 1000000"
                " DIV MAX(__total) AS BIGINT)"
            ).alias("tail_share_ppm"),
        )
        .orderBy("o_orderpriority")
    )


_TAIL_DUCK = f"""
WITH o AS (
  SELECT o_orderpriority, price_cents, o_orderkey FROM (
    SELECT o_orderpriority,
           {money_rounded_sql('o_totalprice')} AS price_cents,
           o_orderkey
    FROM orders
  ) WHERE price_cents IS NOT NULL
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY price_cents DESC, o_orderkey) AS rk,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n,
         SUM(price_cents) OVER (PARTITION BY o_orderpriority) AS total
  FROM o
)
SELECT o_orderpriority,
       CAST(MAX(n) AS BIGINT) AS n_orders,
       CAST(COUNT(*) AS BIGINT) AS n_tail,
       CAST(MIN(price_cents) AS BIGINT) AS var_cents,
       CAST(SUM(price_cents) // COUNT(*) AS BIGINT) AS cvar_cents,
       CAST(CAST(SUM(price_cents) AS HUGEINT) * 1000000 // MAX(total)
            AS BIGINT) AS tail_share_ppm
FROM ranked
WHERE rk <= greatest(1, n * {_TAIL_PCT} // 100)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# One-way ANOVA F (acctbal across market segments)
# ---------------------------------------------------------------------------

_ANOVA_SEGS = (
    "AUTOMOBILE",
    "BUILDING",
    "FURNITURE",
    "HOUSEHOLD",
    "MACHINERY",
)


def _anova_core() -> str:
    cells = []
    for i, seg in enumerate(_ANOVA_SEGS):
        cells.append(
            f"SUM(CASE WHEN seg = '{seg}' THEN 1 ELSE 0 END) AS n_{i},\n"
            f"  SUM(CASE WHEN seg = '{seg}' THEN v ELSE 0 END) AS s_{i},\n"
            f"  SUM(CASE WHEN seg = '{seg}' THEN CAST(v AS DECIMAL(38,0)) * v"
            f" ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss_{i}"
        )
        # every group's sums live in ONE row, so the cross-group float
        # additions below have a lexically fixed order in both engines
    k = len(_ANOVA_SEGS)
    st = " + ".join(f"s_{i}" for i in range(k))
    nt = " + ".join(f"n_{i}" for i in range(k))
    sst = " + ".join(f"ss_{i}" for i in range(k))
    ssb_terms = " + ".join(
        f"CAST(s_{i} AS DOUBLE) * s_{i} / n_{i}" for i in range(k)
    )
    return f"""
WITH f AS (
  SELECT c_mktsegment AS seg, {money_cents_sql('c_acctbal')} AS v
  FROM {{customer}}
), cells AS (
  SELECT {', '.join(cells)},
  COUNT(*) AS n_all
  FROM f
), named AS (
  SELECT n_all, {st} AS st, {nt} AS nt, {sst} AS sst,
         ({ssb_terms}) AS rawb
  FROM cells
), comp AS (
  SELECT n_all, nt,
         rawb - CAST(st AS DOUBLE) * st / nt AS ssb,
         CAST(sst AS DOUBLE) - rawb AS ssw
  FROM named
)
SELECT CAST(n_all AS BIGINT) AS n_rows,
       CAST(n_all - nt AS BIGINT) AS n_other,
       CAST({k} - 1 AS BIGINT) AS df_between,
       CAST(nt - {k} AS BIGINT) AS df_within,
       CAST(floor(ssb / (ssb + ssw) * 1000000) AS BIGINT)
         AS ssb_share_micro,
       CAST(floor((ssb / ({k} - 1)) / (ssw / (nt - {k})) * 1000)
            AS BIGINT) AS f_milli
FROM comp
"""


_ANOVA_CORE = _anova_core()


# Float-determinism contract (same as the Welch-t / chi2 family): all
# accumulation happens on exact integers (BIGINT cents /
# DECIMAL(38,0)/HUGEINT power sums, or per-term micro-floored
# contributions summed as integers); the final statistic is a
# fixed-shape float expression with IDENTICAL text in the Spark plan
# and the DuckDB oracle, so every IEEE operation matches. Where a
# statistic needs a float sum over a DATA-DEPENDENT number of groups
# (ANOVA's between-group sum, entropy sums), the groups are either a
# fixed literal domain unrolled into one conditional-aggregate row
# (ANOVA — addition order is then lexically fixed) or per-term floored
# to integer micros before an integer sum (entropies, DW residuals).
def agg_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of account balance across the five market
    segments. The segment domain is a fixed TPC-H literal, so all 15
    per-group power sums (count, BIGINT cent sum, DECIMAL(38,0)
    square sum) unroll into ONE conditional-aggregate row — one
    map-combined scan, no groupBy shuffle, and the between-group
    float sum has a lexically fixed addition order in both engines.
    ``n_other`` pins domain drift: a fixture with a sixth segment
    shows up as n_other > 0 instead of silently biasing F. Scales:
    the only full-data work is the single scan."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "r41_anova_customer"
    )
    return spark.sql(_ANOVA_CORE.format(customer="r41_anova_customer"))


_ANOVA_DUCK = _ANOVA_CORE.format(customer="customer")


# ---------------------------------------------------------------------------
# Jarque-Bera normality test (lineitem quantity)
# ---------------------------------------------------------------------------

_JB_CORE = f"""
WITH f AS (
  -- the documented quantity contract [1, 50] applied as the ingest
  -- bound (round-10 layer 2): a corrupt 1e15 "quantity" raised to
  -- the 4th power overflows even DECIMAL(38)/HUGEINT, so the moment
  -- machinery's exactness guarantee EXISTS only inside the domain
  SELECT v FROM (
    SELECT {qty_scaled_sql('l_quantity', 1)} AS v FROM {{lineitem}}
  ) WHERE v IS NOT NULL
), s AS (
  SELECT COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2,
         SUM(CAST(v AS DECIMAL(38,0)) * v * v) AS s3,
         SUM(CAST(v AS DECIMAL(38,0)) * v * v * v) AS s4
  FROM f
), a AS (
  SELECT n, CAST(s1 AS DOUBLE) / n AS m, CAST(s2 AS DOUBLE) / n AS r2,
         CAST(s3 AS DOUBLE) / n AS r3, CAST(s4 AS DOUBLE) / n AS r4
  FROM s
), b AS (
  SELECT n, m, r2 - m * m AS m2,
         r3 - 3 * m * r2 + 2 * m * m * m AS m3,
         r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m AS m4
  FROM a
), c AS (
  SELECT n, m, m3 / (m2 * sqrt(m2)) AS skew, m4 / (m2 * m2) AS kurt
  FROM b
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(floor(m * 1000) AS BIGINT) AS mean_milli,
       CAST(floor(skew * 1000000) AS BIGINT) AS skew_micro,
       CAST(floor(kurt * 1000000) AS BIGINT) AS kurt_micro,
       CAST(floor(CAST(n AS DOUBLE) / 6
                  * (skew * skew + (kurt - 3) * (kurt - 3) / 4) * 1000)
            AS BIGINT) AS jb_milli
FROM c
"""


def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic over lineitem quantity
    (integral 1..50, so the four raw power sums are EXACT BIGINT /
    DECIMAL(38,0) integers at any row count — v^4 <= 6.25e6 keeps the
    DECIMAL sum inside 38 digits past 1e30 rows). Central moments,
    skewness, kurtosis and JB are one fixed-shape float expression
    over the five integers. ONE map-combined scan; the test that
    tells a distribution-drift monitor 'this column stopped looking
    like it used to' for ~free."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "r41_jb_lineitem"
    )
    return spark.sql(_JB_CORE.format(lineitem="r41_jb_lineitem"))


_JB_DUCK = _JB_CORE.format(lineitem="lineitem")


# ---------------------------------------------------------------------------
# Durbin-Watson (daily revenue OLS residual autocorrelation)
# ---------------------------------------------------------------------------

_DW_CORE = """
WITH ols AS (
  SELECT COUNT(*) AS n, SUM(d) AS sd,
         SUM(CAST(d AS DECIMAL(38,0)) * d) AS sdd,
         SUM(v) AS sv, SUM(CAST(d AS DECIMAL(38,0)) * v) AS sdv
  FROM {daily}
), coef AS (
  SELECT n, sd, sv,
         (CAST(n AS DOUBLE) * CAST(sdv AS DOUBLE)
          - CAST(sd AS DOUBLE) * CAST(sv AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
            - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) AS b
  FROM ols
), coef2 AS (
  SELECT b, (CAST(sv AS DOUBLE) - b * CAST(sd AS DOUBLE))
            / CAST(n AS DOUBLE) AS a
  FROM coef
), resid AS (
  SELECT d, CAST(floor(CAST(v AS DOUBLE) - b * d - a) AS BIGINT) AS e
  FROM {daily} CROSS JOIN coef2
), lagd AS (
  SELECT e, LAG(e) OVER (ORDER BY d) AS ep FROM resid
), agg AS (
  SELECT COUNT(*) AS nd,
         SUM(CASE WHEN ep IS NOT NULL
             THEN CAST(e - ep AS DECIMAL(38,0)) * (e - ep)
             ELSE CAST(0 AS DECIMAL(38,0)) END) AS num,
         SUM(CAST(e AS DECIMAL(38,0)) * e) AS den
  FROM lagd
)
SELECT CAST(nd AS BIGINT) AS n_days,
       CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000000)
            AS BIGINT) AS dw_micro
FROM agg
"""


def agg_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the residuals of daily revenue
    regressed on the day index. The event-sized lineitem table
    collapses to a ~2.5k-row (day, cent-sum) relation FIRST (one
    groupBy shuffle) and is persisted, so the OLS sums and the
    residual pass reuse it instead of re-aggregating; residuals are
    floored to integer cents, their squares/lag-diffs accumulate as
    DECIMAL(38,0)/HUGEINT, and the single global LAG window runs
    over the bounded daily rollup (the documented
    bounded-single-partition pattern from ts_periodogram). DW ~ 2
    means no autocorrelation; the drift alarm for 'my daily KPI
    series grew a trend my model doesn't know about'."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = track_persist(
        li.groupBy(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d")
        ).agg(
            F.sum(money_cents("l_extendedprice")).alias("v")
        )
    )
    daily.createOrReplaceTempView("r41_dw_daily")
    return spark.sql(_DW_CORE.format(daily="r41_dw_daily"))


_DW_DUCK = (
    f"""
WITH dw_daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01',
                       CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
         SUM({money_cents_sql('l_extendedprice')}) AS v
  FROM lineitem GROUP BY 1
)"""
    + _DW_CORE.replace("WITH ols AS (", ", ols AS (", 1).format(
        daily="dw_daily"
    )
)


# ---------------------------------------------------------------------------
# Theil's U (uncertainty coefficient, priority <-> status)
# ---------------------------------------------------------------------------

_THEIL_ENT = (
    "SUM(CAST(floor(-(CAST({c} AS DOUBLE) / tot.n)"
    " * ln(CAST({c} AS DOUBLE) / tot.n) * 1000000) AS BIGINT))"
)


_THEILU_CORE = f"""
WITH tot AS (
  SELECT SUM(c) AS n FROM {{jx}}
), mx AS (
  SELECT x, SUM(c) AS c FROM {{jx}} GROUP BY x
), my AS (
  SELECT y, SUM(c) AS c FROM {{jx}} GROUP BY y
), hx AS (
  SELECT {_THEIL_ENT.format(c='mx.c')} AS h FROM mx CROSS JOIN tot
), hy AS (
  SELECT {_THEIL_ENT.format(c='my.c')} AS h FROM my CROSS JOIN tot
), hj AS (
  SELECT {_THEIL_ENT.format(c='j.c')} AS h FROM {{jx}} j CROSS JOIN tot
)
SELECT CAST(tot.n AS BIGINT) AS n_rows,
       CAST(hx.h AS BIGINT) AS h_priority_micro,
       CAST(hy.h AS BIGINT) AS h_status_micro,
       CAST(hj.h AS BIGINT) AS h_joint_micro,
       CAST((hy.h - (hj.h - hx.h)) * 1000000 {{idiv}} hy.h AS BIGINT)
         AS u_status_given_priority_micro,
       CAST((hx.h - (hj.h - hy.h)) * 1000000 {{idiv}} hx.h AS BIGINT)
         AS u_priority_given_status_micro
FROM tot CROSS JOIN hx CROSS JOIN hy CROSS JOIN hj
"""


def agg_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient between order priority and
    order status — the DIRECTIONAL categorical-association measure
    (chi2/Cramer answer 'associated?'; U answers 'how much of Y's
    entropy does knowing X remove, and in which direction'). NOT the
    Theil inequality index (`agg_theil_index`). One groupBy builds
    the contingency relation; entropies are per-term micro-floored
    integer sums, and the two U ratios are integer division over
    those micros — the contract is micro-entropy arithmetic,
    identical in both engines. Scales: the only full-data work is
    the contingency groupBy.

    The contingency table is bounded by the enum alphabets (priority
    x status — ~15 cells on contract data, a few dozen with hostile
    unknown/NULL enums; never fact-sized), so the four entropy
    consumers run driver-side over one bounded collect (guide
    §1.2/§5; the old persisted-view form re-read the cache in four
    CTE subtrees and scheduled ~16 tiny jobs). Replication is exact:
    entropy terms keep the SQL's float64 operation order
    (-(c/n) * ln(c/n) * 1e6 floored per term, libm ln), the U ratios
    use truncating integer division like Spark's DIV with its
    NULL-on-zero-divisor edge, and an empty orders table yields the
    SQL's single all-NULL row. Proven by oracle parity at two SFs
    plus the hostile/NULL/empty nets (the DuckDB oracle is
    untouched)."""
    import math

    orders = load_table(spark, sf_dir, "orders")
    # bounded collect: <= |priority alphabet| x |status alphabet| cells
    cells = (
        orders.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count("*").alias("c"))
        .collect()
    )
    schema = (
        "n_rows bigint, h_priority_micro bigint, h_status_micro bigint, "
        "h_joint_micro bigint, u_status_given_priority_micro bigint, "
        "u_priority_given_status_micro bigint"
    )
    if not cells:
        # empty-input SQL shape: every 1-row aggregate is NULL
        return spark.createDataFrame(
            [(None, None, None, None, None, None)], schema
        )
    n = sum(r["c"] for r in cells)

    def ent(counts) -> int:
        # SUM(CAST(floor(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS
        # DOUBLE) / n) * 1000000) AS BIGINT)) — per-term float64 in
        # the SQL's exact operation order, then exact integer sum
        return sum(
            int(
                math.floor(
                    -(float(c) / n) * math.log(float(c) / n) * 1000000
                )
            )
            for c in counts
        )

    def tdiv(a: int, b: int):
        # Spark DIV: truncate toward zero, NULL on zero divisor
        if b == 0:
            return None
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    mx: dict = {}
    my: dict = {}
    for r in cells:
        mx[r["x"]] = mx.get(r["x"], 0) + r["c"]
        my[r["y"]] = my.get(r["y"], 0) + r["c"]
    hx = ent(mx.values())
    hy = ent(my.values())
    hj = ent(r["c"] for r in cells)
    row = (
        n,
        hx,
        hy,
        hj,
        tdiv((hy - (hj - hx)) * 1000000, hy),
        tdiv((hx - (hj - hy)) * 1000000, hx),
    )
    return spark.createDataFrame([row], schema)


_THEILU_DUCK = (
    """
WITH theil_jx AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y, COUNT(*) AS c
  FROM orders GROUP BY 1, 2
)"""
    + _THEILU_CORE.replace("WITH tot AS (", ", tot AS (", 1).format(
        jx="theil_jx", idiv="//"
    )
)


# ---------------------------------------------------------------------------
# Pythagorean means
# ---------------------------------------------------------------------------

_MEANS_CORE = f"""
WITH f AS (
  SELECT o_orderpriority AS pri,
         {money_cents_sql('o_totalprice')} AS y
  FROM {{orders}} WHERE o_totalprice > 0
), s AS (
  SELECT pri, COUNT(*) AS n, SUM(y) AS sy,
         SUM(CAST(floor(ln(CAST(y AS DOUBLE)) * 1000000) AS BIGINT))
           AS slog_micro,
         SUM(CAST(floor(1000000000000.0 / y) AS BIGINT)) AS sinv_pico
  FROM f GROUP BY pri
)
SELECT pri,
       CAST(n AS BIGINT) AS n_orders,
       CAST(sy {{idiv}} n AS BIGINT) AS arith_mean_cents,
       CAST(floor(exp(CAST(slog_micro AS DOUBLE) / n / 1000000))
            AS BIGINT) AS geo_mean_cents,
       CAST(floor(CAST(n AS DOUBLE) * 1000000000000.0 / sinv_pico)
            AS BIGINT) AS harm_mean_cents
FROM s ORDER BY pri
"""


#   * ``agg_geometric_harmonic_means`` — exact arithmetic/geometric/
#     harmonic means per order priority: log terms floored to integer
#     micro-nats and reciprocals to integer picos BEFORE summation, so
#     both nonlinear means are addition-order independent.
def agg_geometric_harmonic_means(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arithmetic / geometric / harmonic mean of order value per
    priority. The nonlinear means accumulate per-term integers
    (micro-nats of ln y; picos of 1/y), so the sums are exact and
    partition-order independent; only the final exp/divide is float,
    fixed-shape in both engines. One map-combined scan. AM >= GM >=
    HM is asserted by the cross-check as a structural sanity bound."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "r43_means_orders"
    )
    return spark.sql(_MEANS_CORE.format(orders="r43_means_orders", idiv="DIV"))


_MEANS_DUCK = _MEANS_CORE.format(orders="orders", idiv="//")


# ---------------------------------------------------------------------------
# Permutation test
# ---------------------------------------------------------------------------

_PERM_K = 64


_PERM_CORE = f"""
WITH per_user AS (
  SELECT user_id, SUM(v) AS sv, COUNT(*) AS c
  FROM (SELECT user_id, TRY_CAST(floor(CASE WHEN value - value = 0 AND abs(value) < 9.0e15 THEN value * 1000 END) AS BIGINT) AS v
        FROM {{events}}
        -- the md5 pseudo-assignment needs an identity: Spark's concat
        -- nulls out on a NULL user_id where DuckDB's skips it
        WHERE user_id IS NOT NULL)
  GROUP BY user_id
), obs AS (
  SELECT CAST(floor((CAST(SUM(CASE WHEN user_id % 2 = 1 THEN sv END)
                          AS DOUBLE)
                     / SUM(CASE WHEN user_id % 2 = 1 THEN c END)
                     - CAST(SUM(CASE WHEN user_id % 2 = 0 THEN sv END)
                            AS DOUBLE)
                       / SUM(CASE WHEN user_id % 2 = 0 THEN c END))
                    * 1000) AS BIGINT) AS lift_micro
  FROM per_user
), perm AS (
  SELECT p,
         CAST(floor((CAST(SUM(CASE WHEN arm = 1 THEN sv END) AS DOUBLE)
                     / SUM(CASE WHEN arm = 1 THEN c END)
                     - CAST(SUM(CASE WHEN arm = 0 THEN sv END) AS DOUBLE)
                       / SUM(CASE WHEN arm = 0 THEN c END))
                    * 1000) AS BIGINT) AS lift_micro
  FROM (
    SELECT e.p, pu.sv, pu.c,
           {{hexint}} % 2 AS arm
    FROM per_user pu {{explode}}
  )
  GROUP BY p
)
SELECT o.lift_micro AS observed_lift_micro,
       CAST({_PERM_K} AS BIGINT) AS n_perms,
       CAST(SUM(CASE WHEN ABS(perm.lift_micro) >= ABS(o.lift_micro)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_as_extreme,
       CAST((1 + SUM(CASE WHEN ABS(perm.lift_micro)
                               >= ABS(o.lift_micro)
                     THEN 1 ELSE 0 END)) * 1000000
            {{idiv}} ({_PERM_K} + 1) AS BIGINT) AS p_value_ppm
FROM perm CROSS JOIN obs o
GROUP BY o.lift_micro
"""


_PERM_HEX_SPARK = (
    "CAST(conv(substring(md5(concat(CAST(pu.user_id AS STRING), ':',"
    " CAST(e.p AS STRING))), 1, 12), 16, 10) AS BIGINT)"
)


_PERM_HEX_DUCK = (
    "CAST(concat('0x', substring(md5(CAST(pu.user_id AS VARCHAR)"
    " || ':' || CAST(e.p AS VARCHAR)), 1, 12)) AS BIGINT)"
)


#   * ``agg_permutation_test_lift`` — a permutation test for the A/B
#     value lift with 64 DETERMINISTIC pseudo-assignments derived from
#     md5(user, perm) instead of an RNG: every engine, rerun and
#     partitioning sees the same permutations, so the p-value is an
#     exact, reproducible number. Resampling inference without leaving
#     the engine.
def agg_permutation_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided permutation test for the arm lift in mean event
    value: 64 deterministic pseudo-assignments (md5 of user and
    permutation index — no RNG, so the p-value is bit-reproducible),
    p = (1 + #as-extreme) / (K + 1). User-level assignment means the
    metric depends only on per-user (sum, count) — so the corpus
    pre-aggregates to ONE row per user BEFORE the 64x explode: the
    md5 work is users x 64, not events x 64 (measured 4.9s -> 0.8s
    at sf0.1), and the per-permutation partials
    combine map-side. That reduction — resample the SUFFICIENT
    STATISTICS, not the rows — is what makes permutation inference
    viable at 100 TB. Per-arm means are fixed-shape doubles over
    exact integer sums, micro-floored before comparison."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r46_perm_events"
    )
    return spark.sql(
        _PERM_CORE.format(
            events="r46_perm_events",
            hexint=_PERM_HEX_SPARK,
            explode=(
                f"LATERAL VIEW explode(sequence(0, {_PERM_K} - 1)) e AS p"
            ),
            idiv="DIV",
        )
    )


_PERM_DUCK = _PERM_CORE.format(
    events="events",
    hexint=_PERM_HEX_DUCK,
    explode=f"CROSS JOIN (SELECT unnest(range({_PERM_K})) AS p) e",
    idiv="//",
)


# ---------------------------------------------------------------------------
# McNemar's paired test
# ---------------------------------------------------------------------------

_MCNEMAR_CRIT_MILLI = 3841  # chi2(1) at alpha 0.05


_MCNEMAR_CORE = f"""
WITH d AS (
  SELECT (n_chars >= 300) AS a_pred, ({{wc}} >= 45) AS b_pred,
         (lang = 'en') AS label
  FROM {{docs}}
), s AS (
  SELECT SUM(CASE WHEN a_pred = label AND b_pred != label
             THEN 1 ELSE 0 END) AS b,
         SUM(CASE WHEN b_pred = label AND a_pred != label
             THEN 1 ELSE 0 END) AS c,
         COUNT(*) AS n
  FROM d
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(b AS BIGINT) AS n_only_a_correct,
       CAST(c AS BIGINT) AS n_only_b_correct,
       CAST(GREATEST(ABS(b - c) - 1, 0) * GREATEST(ABS(b - c) - 1, 0)
              * 1000 {{idiv}} (b + c) AS BIGINT) AS mcnemar_milli,
       (GREATEST(ABS(b - c) - 1, 0) * GREATEST(ABS(b - c) - 1, 0)
          * 1000 {{idiv}} (b + c)) > {_MCNEMAR_CRIT_MILLI} AS significant
FROM s
"""


#   * ``agg_mcnemar_paired`` — the PAIRED classifier comparison the
#     unpaired chi-square can't do: discordant-pair counts between the
#     char-length and word-count annotators against the en-language
#     label, continuity-corrected statistic in integer milli.
def agg_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on the two document annotators (char-length vs
    word-count gates) against the en-language label: only the
    DISCORDANT pairs carry information about which classifier is
    better on the same data — the paired comparison an unpaired
    chi-square silently gets wrong. Continuity-corrected statistic
    in exact integer milli from one conditional-sum scan."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r48_mcnemar_docs"
    )
    return spark.sql(
        _MCNEMAR_CORE.format(
            docs="r48_mcnemar_docs",
            wc="size(filter(split(text, ' '), x -> x != ''))",
            idiv="DIV",
        )
    )


_MCNEMAR_DUCK = _MCNEMAR_CORE.format(
    docs="documents",
    wc="len(list_filter(string_split(text, ' '), x -> x != ''))",
    idiv="//",
)


# ---------------------------------------------------------------------------
# Capture-recapture
# ---------------------------------------------------------------------------

_CHAPMAN_CORE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM {lineitem}
), marks AS (
  SELECT p,
         MAX(CASE WHEN o % 50 = 0 THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN o % 50 = 1 THEN 1 ELSE 0 END) AS in_b
  FROM li GROUP BY p
), s AS (
  SELECT SUM(in_a) AS n1, SUM(in_b) AS n2,
         SUM(in_a * in_b) AS m, COUNT(*) AS observed
  FROM marks
)
SELECT CAST(n1 AS BIGINT) AS n_sample_a,
       CAST(n2 AS BIGINT) AS n_sample_b,
       CAST(m AS BIGINT) AS n_both,
       CAST(observed AS BIGINT) AS n_observed,
       CAST((n1 + 1) * (n2 + 1) {idiv} (m + 1) - 1 AS BIGINT)
         AS chapman_estimate
FROM s
"""


#   * ``agg_capture_recapture`` — Chapman's mark-recapture estimator
#     of the part-catalog size from two disjoint order samples,
#     checked against the actually-observed distinct count. The
#     coverage-estimation trick for 'how many entities exist that this
#     crawl has NOT seen'.
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman mark-recapture estimate of the part-catalog size: one
    2%-of-orders sample 'marks' parts, a second disjoint sample
    'recaptures'; N-hat = (n1+1)(n2+1)/(m+1) - 1, exact integer
    arithmetic, next to the observed distinct count the estimator is
    trying to recover (at sf0.01: ~2064 estimated vs 2000 true —
    the estimator works, and the query proves it on real overlap
    structure). The coverage question dedup and entity-resolution
    pipelines ask of any sampled crawl. One part-keyed groupBy."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "r49_capture_li"
    )
    return spark.sql(
        _CHAPMAN_CORE.format(lineitem="r49_capture_li", idiv="DIV")
    )


_CHAPMAN_DUCK = _CHAPMAN_CORE.format(lineitem="lineitem", idiv="//")


# ---------------------------------------------------------------------------
# Chao1 phrase-space estimate
# ---------------------------------------------------------------------------

_CHAO1_CORE = """
WITH cnt AS (
  SELECT gram, COUNT(*) AS c FROM {grams} GROUP BY gram
), s AS (
  SELECT COUNT(*) AS v,
         SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
         SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2,
         SUM(c) AS n_grams
  FROM cnt
)
SELECT CAST(n_grams AS BIGINT) AS n_grams,
       CAST(v AS BIGINT) AS v_observed,
       CAST(f1 AS BIGINT) AS n_singletons,
       CAST(f2 AS BIGINT) AS n_doubletons,
       CAST(v + f1 * (f1 - 1) {idiv} (2 * (f2 + 1)) AS BIGINT)
         AS chao1_estimate,
       CAST(v * 1000000 {idiv}
            (v + f1 * (f1 - 1) {idiv} (2 * (f2 + 1))) AS BIGINT)
         AS coverage_ppm
FROM s
"""


#   * ``agg_chao1_vocab_estimate`` — Chao1 bias-corrected lower bound
#     on the TRUE trigram-phrase space from singleton/doubleton
#     counts, with the implied coverage share. Heaps' law fits the
#     growth curve; Chao1 answers the point question.
def agg_chao1_vocab_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 bias-corrected lower bound on the true trigram-phrase
    space (V + f1(f1-1)/2(f2+1), exact integer division) with the
    implied coverage share — at sf0.01 the corpus has seen ~62% of
    the phrase space Chao1 predicts, the kind of number that tells a
    curation team whether more crawl yields new text or reruns of
    old. Unigrams saturate at this fixture's 31-word vocabulary;
    trigrams are where the unseen mass lives. One map-combined gram
    count; same scaling contract as every n-gram scoring op."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r49_chao_docs"
    )
    spark.sql(
        """
        SELECT concat_ws(' ', t[i - 1], t[i], t[i + 1]) AS gram
        FROM (SELECT filter(split(text, ' '), x -> x != '') AS t
              FROM r49_chao_docs)
        LATERAL VIEW explode(sequence(1, size(t) - 2)) e AS i
        WHERE size(t) >= 3
        """
    ).createOrReplaceTempView("r49_chao_grams")
    return spark.sql(_CHAO1_CORE.format(grams="r49_chao_grams", idiv="DIV"))


_CHAO1_DUCK = _CHAO1_CORE.format(
    grams=(
        """(
  SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
  FROM (SELECT list_filter(string_split(text, ' '), x -> x != '') AS t
        FROM documents),
       UNNEST(range(1, 1200)) AS u(i)
  WHERE i <= len(t) - 2
)"""
    ),
    idiv="//",
)


# ---------------------------------------------------------------------------
# Fisher's exact test
# ---------------------------------------------------------------------------

# COALESCE mirrors the plan's `or 0` normalization of the collected
# counts: over an empty slice the SUMs are NULL, and without it the
# oracle's whole pmf pipeline emits NULLs where the plan inlines
# zeros (caught by the single-row parity net).
_FISHER_BASE_AGG = """
  SELECT COUNT(*) AS n,
         COALESCE(SUM(CASE WHEN p_brand LIKE 'Brand#1%'
                           THEN 1 ELSE 0 END), 0) AS r1,
         COALESCE(SUM(CASE WHEN p_type LIKE 'SMALL%'
                           THEN 1 ELSE 0 END), 0) AS c1,
         COALESCE(SUM(CASE WHEN p_brand LIKE 'Brand#1%'
                   AND p_type LIKE 'SMALL%' THEN 1 ELSE 0 END), 0) AS k_obs
  FROM {part} WHERE p_size <= 3
"""


# Tie guard for the extremeness census: lnpmf values on the two sides
# of the comparison come from independent ln() cumsums, so JVM
# Math.log vs libm can drift by a few ulps (~1e-13 accumulated over
# hundreds of terms) and near-symmetric marginals (r1 = c1 or
# r1 + c1 = n) produce EXACT pmf ties that land on either side of the
# raw double compare depending on the engine.  1e-9 is ~4 orders
# above the accumulated float error and ~3 orders below the smallest
# genuinely-distinct lnpmf gap a 2x2 hypergeometric with marginals in
# the hundreds can produce, so ties (and only ties) are counted as
# "as extreme" in BOTH engines — the scipy convention.
_FISHER_TIE_EPS = "1e-9"


_FISHER_CORE = """
WITH base AS (
{base}
), lf AS (
  SELECT i,
         SUM(CASE WHEN i > 1 THEN ln(CAST(i AS DOUBLE)) ELSE 0.0 END)
           OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS lf
  FROM ({series})
), const AS (
  SELECT b.n, b.r1, b.c1, b.k_obs,
         CASE WHEN b.r1 + b.c1 - b.n > 0 THEN b.r1 + b.c1 - b.n
              ELSE 0 END AS kmin,
         CASE WHEN b.r1 < b.c1 THEN b.r1 ELSE b.c1 END AS kmax,
         la.lf + lb.lf + lc.lf + ld.lf - le.lf AS lnconst
  FROM base b
  JOIN lf la ON la.i = b.r1
  JOIN lf lb ON lb.i = b.n - b.r1
  JOIN lf lc ON lc.i = b.c1
  JOIN lf ld ON ld.i = b.n - b.c1
  JOIN lf le ON le.i = b.n
), ks AS (
  SELECT c.*, {kexpand}
  FROM const c {kexpand_from}
), pmf AS (
  SELECT ks.n, ks.r1, ks.c1, ks.k_obs, ks.kmin, ks.kmax, ks.k,
         ks.lnconst - l1.lf - l2.lf - l3.lf - l4.lf AS lnpmf
  FROM ks
  JOIN lf l1 ON l1.i = ks.k
  JOIN lf l2 ON l2.i = ks.r1 - ks.k
  JOIN lf l3 ON l3.i = ks.c1 - ks.k
  JOIN lf l4 ON l4.i = ks.n - ks.r1 - ks.c1 + ks.k
), obs AS (
  SELECT lnpmf AS lnpmf_obs FROM pmf WHERE k = k_obs
)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(r1) AS BIGINT) AS r1,
       CAST(MAX(c1) AS BIGINT) AS c1,
       CAST(MAX(k_obs) AS BIGINT) AS k_obs,
       CAST(MAX(kmin) AS BIGINT) AS kmin,
       CAST(MAX(kmax) AS BIGINT) AS kmax,
       CAST(MAX((r1 + 1) * (c1 + 1) {idiv} (n + 2)) AS BIGINT) AS mode_k,
       CAST(MAX(1000000 * r1 * c1 {idiv} n) AS BIGINT)
         AS expected_k_micro,
       CAST(SUM(CASE WHEN lnpmf <= lnpmf_obs + {tie_eps} THEN 1 ELSE 0 END)
            AS BIGINT)
         AS n_more_extreme,
       CAST(floor(MAX(lnpmf_obs) * 100) AS BIGINT) AS lnpmf_obs_centi,
       CAST(floor(SUM(CASE WHEN lnpmf <= lnpmf_obs + {tie_eps}
                           THEN exp(lnpmf) ELSE 0.0 END) * 1000) AS BIGINT)
         AS p_two_sided_permille
FROM pmf CROSS JOIN obs
"""


#   * ``agg_fisher_exact`` — Fisher's exact test on a bounded 2×2
#     contingency table via a log-factorial table built with ONE
#     sequential window cumsum.  Extremeness is decided by comparing
#     in-engine lnpmf values under a deterministic 1e-9 tie guard
#     (exact ties count as extreme in both engines), and only coarse
#     summaries (centi-nat lnpmf, permille p) are floored — the
#     precision discipline that keeps a long float cumsum from
#     flipping a fine-grained floor between engines.
def agg_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test of brand family × type family on the
    bounded small-size part slice (p_size ≤ 3 keeps marginals in the
    hundreds — exactly the regime Fisher exists for; beyond ~1e6 the
    chi² path `agg_chi2_independence` is the estimator of record and
    the log-factorial table would be the wrong tool).  ln k! comes
    from ONE sequential window cumsum over a generated 0..n series;
    the hypergeometric support is exploded per k and each lnpmf is
    nine table lookups.  Extremeness uses a deterministic tie guard
    (`lnpmf ≤ lnpmf_obs + 1e-9`, see ``_FISHER_TIE_EPS``): symmetric
    marginals (r1 = c1 or r1 + c1 = n) produce EXACT pmf ties whose
    raw-double compare would flip with JVM-vs-libm ln() ulp drift;
    the epsilon counts ties as "as extreme" in both engines (the
    scipy convention) while staying orders below any genuinely
    distinct pmf gap.  Only the coarse summaries (centi-nat lnpmf,
    permille p) are floored, with boundary widths 4-6 orders above
    the accumulated float error.

    The 2×2 table itself is ONE bounded-scalar collect (4 ints —
    the same sanctioned pattern as PageRank's node count): inlining
    the counts as literals means the factorial series, the support
    explosion and the nine lookups all derive from generated
    relations, so the part table is scanned exactly once instead of
    once per CTE re-derivation."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView(
        "r50_fisher_part"
    )
    row = spark.sql(
        _FISHER_BASE_AGG.format(part="r50_fisher_part")
    ).collect()[0]
    # empty input: COUNT is 0 but the SUMs are NULL — normalize so the
    # literal inlining below stays well-typed (the oracle's aggregate
    # NULLs coalesce the same way through its CASE arithmetic)
    n = int(row.n or 0)
    r1 = int(row.r1 or 0)
    c1 = int(row.c1 or 0)
    k_obs = int(row.k_obs or 0)
    return spark.sql(
        _FISHER_CORE.format(
            # BIGINT casts are load-bearing: bare literals type as
            # INT32 and 1000000*r1*c1 wraps negative at sf0.1+
            # (DuckDB's aggregate-derived counts are BIGINT, so the
            # sf0.1 parity sweep caught the asymmetry).
            base=(
                f"  SELECT CAST({n} AS BIGINT) AS n, "
                f"CAST({r1} AS BIGINT) AS r1, "
                f"CAST({c1} AS BIGINT) AS c1, "
                f"CAST({k_obs} AS BIGINT) AS k_obs"
            ),
            series=(
                "SELECT explode(sequence(0, CAST(n AS INT))) AS i "
                "FROM base"
            ),
            kexpand="e.k",
            kexpand_from=(
                "LATERAL VIEW explode(sequence(CAST(c.kmin AS INT), "
                "CAST(c.kmax AS INT))) e AS k"
            ),
            idiv="DIV",
            tie_eps=_FISHER_TIE_EPS,
        )
    )


_FISHER_DUCK = _FISHER_CORE.format(
    base=_FISHER_BASE_AGG.format(part="part"),
    series=(
        "SELECT u.i FROM base, "
        "UNNEST(range(0, CAST(n AS INT) + 1)) AS u(i)"
    ),
    kexpand="u.k",
    kexpand_from=(
        ", UNNEST(range(CAST(c.kmin AS INT), CAST(c.kmax AS INT) + 1)) "
        "AS u(k)"
    ),
    idiv="//",
    tie_eps=_FISHER_TIE_EPS,
)


# ---------------------------------------------------------------------------
# Benjamini-Hochberg over Chebyshev p-values
# ---------------------------------------------------------------------------

_BH_ALPHA_MICRO = 100_000  # alpha = 0.1, in micro units


_BH_CORE = f"""
WITH cents AS (
  -- bounded money ingest (round-10 layer 2): x^2 on a castable
  -- absurd value times n overflows DECIMAL(38); NULL x has no test
  SELECT nk, x FROM (
    SELECT c.c_nationkey AS nk,
           {money_rounded_sql('o.o_totalprice')} AS x
    FROM {{orders}} o JOIN {{customer}} c ON o.o_custkey = c.c_custkey
  ) WHERE x IS NOT NULL
), per_n AS (
  SELECT nk, COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
  FROM cents GROUP BY nk
), gtot AS (
  SELECT SUM(n) AS nn, SUM(sx) AS g FROM per_n
), p AS (
  SELECT nk, n,
         CASE
           WHEN n < 2 OR nn * sx - n * g = 0 THEN 1000000
           ELSE CAST(LEAST(CAST(1000000 AS DOUBLE),
                floor(1000000.0
                      * CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                      / (CAST(n - 1 AS DOUBLE)
                         * CAST(nn * sx - n * g AS DOUBLE)
                         * CAST(nn * sx - n * g AS DOUBLE))))
                AS BIGINT)
         END AS p_micro
  FROM per_n CROSS JOIN gtot
), ranked AS (
  SELECT nk, n, p_micro,
         ROW_NUMBER() OVER (ORDER BY p_micro, nk) AS bh_rank,
         COUNT(*) OVER () AS m
  FROM p
), cut AS (
  SELECT *,
         MAX(CASE WHEN p_micro * m <= {_BH_ALPHA_MICRO} * bh_rank
                  THEN bh_rank ELSE 0 END) OVER () AS i_star
  FROM ranked
)
SELECT nt.n_name AS nation,
       CAST(n AS BIGINT) AS n_orders,
       CAST(p_micro AS BIGINT) AS p_chebyshev_micro,
       CAST(bh_rank AS BIGINT) AS bh_rank,
       CAST(CASE WHEN bh_rank <= i_star THEN 1 ELSE 0 END AS BIGINT)
         AS discovered
FROM cut JOIN {{nation}} nt ON nt.n_nationkey = cut.nk
ORDER BY bh_rank, nation
"""


#   * ``agg_bh_fdr`` — Benjamini–Hochberg step-up over per-nation
#     Chebyshev-bound p-values.  Every p is derived from exact
#     DECIMAL(38,0) power sums; the BH threshold comparison
#     (p_micro·m ≤ 100000·rank) is pure integer arithmetic.
def agg_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg step-up (α=0.1) over per-nation 'does this
    nation's mean order value differ from the global mean' tests with
    Chebyshev-bound p-values: p ≤ (s²/n)/d² is a genuine conservative
    p-value that needs NO normal CDF, so the whole pipeline — power
    sums, p, the BH threshold p·m ≤ α·rank, and the step-up cut —
    is exact integer/DECIMAL arithmetic except one fixed-shape float
    division per group.  One orders-sized aggregation (customer keys
    broadcast), then everything is 25 rows; the multiple-testing
    discipline every per-segment metric sweep at 100 TB needs."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "r50_bh_orders"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "r50_bh_customer"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "r50_bh_nation"
    )
    return spark.sql(
        _BH_CORE.format(
            orders="r50_bh_orders",
            customer="r50_bh_customer",
            nation="r50_bh_nation",
        )
    )


_BH_DUCK = _BH_CORE.format(
    orders="orders", customer="customer", nation="nation"
)


# ---------------------------------------------------------------------------
# Hodges-Lehmann pseudomedian
# ---------------------------------------------------------------------------

_HL_CAP = 400


_HL_CORE = f"""
WITH cents AS (
  -- bounded balance (round-10 layer 2): a Walsh pair sum of two
  -- castable absurd values overflows INT64; NULL x has no pair
  SELECT segment, ck, x FROM (
    SELECT c_mktsegment AS segment, c_custkey AS ck,
           {money_rounded_sql('c_acctbal')} AS x
    FROM {{customer}}
  ) WHERE x IS NOT NULL
), samp AS (
  SELECT segment, x, rn FROM (
    SELECT segment, x,
           ROW_NUMBER() OVER (PARTITION BY segment
                              ORDER BY md5(CAST(ck AS {{str}})), ck)
             AS rn
    FROM cents
  ) WHERE rn <= {_HL_CAP}
), walsh AS (
  SELECT a.segment, a.x + b.x AS s
  FROM samp a JOIN samp b
    ON a.segment = b.segment AND a.rn <= b.rn
), ranked AS (
  SELECT segment, s,
         ROW_NUMBER() OVER (PARTITION BY segment ORDER BY s) AS rn,
         COUNT(*) OVER (PARTITION BY segment) AS cnt
  FROM walsh
), med AS (
  SELECT segment, s AS hl_double_cents, cnt AS n_pairs
  FROM ranked WHERE rn = (cnt + 1) {{idiv}} 2
), plain AS (
  SELECT segment, 2 * x AS med_double_cents
  FROM (
    SELECT segment, x,
           ROW_NUMBER() OVER (PARTITION BY segment ORDER BY x) AS rn,
           COUNT(*) OVER (PARTITION BY segment) AS cnt
    FROM samp
  ) WHERE rn = (cnt + 1) {{idiv}} 2
)
SELECT m.segment AS segment,
       CAST(m.n_pairs AS BIGINT) AS n_pairs,
       CAST(m.hl_double_cents AS BIGINT) AS hl_double_cents,
       CAST(p.med_double_cents AS BIGINT) AS med_double_cents
FROM med m JOIN plain p ON p.segment = m.segment
ORDER BY segment
"""


#   * ``agg_hodges_lehmann`` — the Hodges–Lehmann pseudomedian
#     (median of pairwise Walsh sums) per market segment, under a
#     deterministic hash-capped sample that bounds the quadratic pair
#     blow-up (the intra-bucket contract every dedup verifier in this
#     repo follows).
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann pseudomedian (lower median of the n(n+1)/2
    Walsh pair sums, reported in doubled cents so everything stays
    integer) per market segment, next to the plain sample median it
    robustifies.  The quadratic pair space is bounded by a
    DETERMINISTIC hash-capped sample (``_HL_CAP`` rows/segment via
    md5(custkey) order — the same bounded-bucket contract as the
    dedup verifiers), so the op costs O(segments · cap²) regardless
    of table size; the cap is the explicit knob a 100 TB run would
    raise on a larger cluster.  All arithmetic is exact integers."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "r50_hl_customer"
    )
    return spark.sql(
        _HL_CORE.format(customer="r50_hl_customer", str="STRING", idiv="DIV")
    )


_HL_DUCK = _HL_CORE.format(customer="customer", str="VARCHAR", idiv="//")


# ---------------------------------------------------------------------------
# Hill tail-index estimator
# ---------------------------------------------------------------------------

_HILL_K = 100


_HILL_CORE = f"""
WITH topk AS (
  SELECT n_chars FROM {{docs}} WHERE n_chars > 0
  ORDER BY n_chars DESC, doc_id LIMIT {_HILL_K}
), th AS (
  SELECT MIN(n_chars) AS x_k, COUNT(*) AS k FROM topk
), terms AS (
  SELECT CAST(floor(ln(CAST(n_chars AS DOUBLE) / x_k) * 1000000)
              AS BIGINT) AS t
  FROM topk CROSS JOIN th
), s AS (
  SELECT SUM(t) AS sum_micro FROM terms
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(x_k AS BIGINT) AS threshold_chars,
       CAST(sum_micro AS BIGINT) AS sum_ln_ratio_micro,
       CAST(sum_micro {{idiv}} (k - 1) AS BIGINT) AS hill_inv_alpha_micro,
       CAST(CASE WHEN sum_micro > 0
                 THEN (k - 1) * 1000000000 {{idiv}} sum_micro
                 ELSE 0 END AS BIGINT) AS hill_alpha_milli
FROM s CROSS JOIN th
"""


#   * ``agg_hill_tail_index`` — Hill estimator of the document-length
#     tail exponent from the top-100 order statistics.  Each ln term
#     is one ln of an exact integer rational, floored to micro-nats
#     BEFORE summing, so the sum is an integer and immune to
#     float-summation order; the top-k set comes from ORDER BY+LIMIT,
#     which Spark compiles to TakeOrderedAndProject (no global sort).
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the document-length tail exponent over the
    top-100 order statistics: 1/α = mean ln(x_i/x_k).  Every ln is
    one ln of an exact integer rational floored to micro-nats BEFORE
    the sum, so the estimator is an integer computation after the
    per-term floor and immune to summation order.  The top-k set is
    ORDER BY + LIMIT — Spark's TakeOrderedAndProject keeps per-
    partition heaps of 100 rows and merges on the driver, so the
    plan never globally sorts; at 100 TB this is the only correct
    shape for an order-statistic tail estimate."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r51_hill_docs"
    )
    return spark.sql(_HILL_CORE.format(docs="r51_hill_docs", idiv="DIV"))


_HILL_DUCK = _HILL_CORE.format(docs="documents", idiv="//")


# ---------------------------------------------------------------------------
# Effect-size panel
# ---------------------------------------------------------------------------

_HIGH_VALUE_CENTS = 15_000_000  # $150k


_EFFECT_CORE = f"""
WITH cents AS (
  -- bounded cents + NOT NULL (round-10 layer 2): an absurd castable
  -- value drives the pooled variance negative through float
  -- cancellation (sqrt -> NaN in one engine only), and a row with no
  -- valid money has no effect-size contribution in any panel cell
  SELECT x, g, st, pri FROM (
    SELECT {money_rounded_sql('o_totalprice')} AS x,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g,
           o_orderstatus AS st, o_orderpriority AS pri
    FROM {{orders}}
  ) WHERE x IS NOT NULL
), two AS (
  SELECT SUM(g) AS n1, SUM(1 - g) AS n2,
         SUM(CASE WHEN g = 1 THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END)
           AS s1,
         SUM(CASE WHEN g = 0 THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END)
           AS s2,
         SUM(CASE WHEN g = 1 THEN CAST(x AS DECIMAL(38,0)) * x
                  ELSE 0 END) AS q1,
         SUM(CASE WHEN g = 0 THEN CAST(x AS DECIMAL(38,0)) * x
                  ELSE 0 END) AS q2,
         SUM(CASE WHEN g = 1 AND x > {_HIGH_VALUE_CENTS}
                  THEN 1 ELSE 0 END) AS caa,
         SUM(CASE WHEN g = 1 AND x <= {_HIGH_VALUE_CENTS}
                  THEN 1 ELSE 0 END) AS cab,
         SUM(CASE WHEN g = 0 AND x > {_HIGH_VALUE_CENTS}
                  THEN 1 ELSE 0 END) AS cba,
         SUM(CASE WHEN g = 0 AND x <= {_HIGH_VALUE_CENTS}
                  THEN 1 ELSE 0 END) AS cbb
  FROM cents
), cohens AS (
  SELECT n1, n2, caa, cab, cba, cbb,
         CAST(floor((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
              / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                      + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2))
                     / (n1 + n2 - 2))
              * 1000) AS BIGINT) AS cohens_d_milli
  FROM two
), cells AS (
  SELECT pri, st, COUNT(*) AS o_cnt FROM cents GROUP BY pri, st
), margins AS (
  SELECT pri, st, o_cnt,
         SUM(o_cnt) OVER (PARTITION BY pri) AS row_tot,
         SUM(o_cnt) OVER (PARTITION BY st) AS col_tot,
         SUM(o_cnt) OVER () AS n
  FROM cells
), chi AS (
  SELECT MAX(n) AS n,
         COUNT(DISTINCT pri) AS r,
         COUNT(DISTINCT st) AS c,
         SUM(CAST(floor((o_cnt - CAST(row_tot AS DOUBLE) * col_tot / n)
                        * (o_cnt - CAST(row_tot AS DOUBLE) * col_tot / n)
                        / (CAST(row_tot AS DOUBLE) * col_tot / n)
                        * 1e6) AS BIGINT)) AS chi2_micro
  FROM margins
)
SELECT CAST(ch.n AS BIGINT) AS n_orders,
       cohens_d_milli,
       CAST(caa AS BIGINT) AS n_urgent_high,
       CAST(CASE WHEN cab * cba > 0 THEN 1000 * caa * cbb {{idiv}} (cab * cba)
                 ELSE 0 END AS BIGINT) AS odds_ratio_milli,
       CAST(CASE WHEN caa > 0 AND cab > 0 AND cba > 0 AND cbb > 0
                 THEN floor(ln(CAST(caa AS DOUBLE) * cbb
                               / (CAST(cab AS DOUBLE) * cba)) * 1000000)
                 ELSE 0 END AS BIGINT) AS ln_or_micro,
       CAST(chi2_micro AS BIGINT) AS chi2_micro,
       CAST(floor(sqrt(CAST(chi2_micro AS DOUBLE) / 1e6
                       / (CAST(ch.n AS DOUBLE)
                          * (CASE WHEN ch.r < ch.c THEN ch.r
                                  ELSE ch.c END - 1)))
                  * 1000) AS BIGINT) AS cramers_v_milli
FROM cohens CROSS JOIN chi ch
"""


#   * ``agg_effect_size_panel`` — Cohen's d, odds ratio (+ exact-
#     rational ln OR) and Cramér's V in one pass each: the effect
#     sizes that belong NEXT to every significance test this repo
#     ships; all inputs are exact integer power sums / 2×2 counts.
def agg_effect_size_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The effect sizes that belong next to every significance test:
    Cohen's d of order value between urgent and non-urgent orders
    (exact DECIMAL power sums, one fixed-shape float), the odds
    ratio of high-value given urgency as an exact integer rational
    (milli units, integer division) with its ln as one ln of that
    rational, and Cramér's V from the priority×status chi² (per-cell
    floored-micro contributions — the same summation discipline as
    `agg_chi2_independence`, so the integer sum is order-immune).
    Two aggregation passes over one scanned relation, both
    map-combined; every downstream relation is cell-count-sized."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "r51_eff_orders"
    )
    return spark.sql(_EFFECT_CORE.format(orders="r51_eff_orders", idiv="DIV"))


_EFFECT_DUCK = _EFFECT_CORE.format(orders="orders", idiv="//")


# ---------------------------------------------------------------------------
# Kendall tau-b (sampled)
# ---------------------------------------------------------------------------

_TAU_CAP = 1000


_TAU_CORE = f"""
WITH per_c AS (
  -- bounded cents (round-10 layer 2, caught by the sf0.01 hostile
  -- sweep): an absurd castable spend makes the concordance product
  -- (x-diff * y-diff) exceed INT64, where Spark wraps (flipping the
  -- pair's sign) while DuckDB's HUGEINT sum stays exact; a customer
  -- with no valid spend is not a sample point, and neither is a NULL
  -- customer key — md5(NULL) is NULL, which sorts FIRST in Spark and
  -- LAST in DuckDB, flipping its sample membership once the cap binds
  SELECT o_custkey AS ck, COUNT(*) AS x,
         SUM({money_rounded_sql('o_totalprice')}) AS y
  FROM {{orders}} WHERE o_custkey IS NOT NULL GROUP BY o_custkey
), samp AS (
  SELECT x, y, rn FROM (
    SELECT x, y,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(ck AS {{str}})), ck)
             AS rn
    FROM per_c WHERE y IS NOT NULL
  ) WHERE rn <= {_TAU_CAP}
), pairs AS (
  SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.x = b.x AND a.y != b.y THEN 1 ELSE 0 END AS tx,
         CASE WHEN a.y = b.y AND a.x != b.x THEN 1 ELSE 0 END AS ty
  FROM samp a JOIN samp b ON a.rn < b.rn
), s AS (
  SELECT COUNT(*) AS np, SUM(conc) AS c, SUM(disc) AS d,
         SUM(tx) AS tx, SUM(ty) AS ty
  FROM pairs
)
SELECT CAST((SELECT COUNT(*) FROM samp) AS BIGINT) AS n_sample,
       CAST(c AS BIGINT) AS concordant,
       CAST(d AS BIGINT) AS discordant,
       CAST(tx AS BIGINT) AS ties_x_only,
       CAST(ty AS BIGINT) AS ties_y_only,
       CAST(floor((CAST(c AS DOUBLE) - d)
                  / sqrt((CAST(c AS DOUBLE) + d + tx)
                         * (CAST(c AS DOUBLE) + d + ty))
                  * 1000) AS BIGINT) AS tau_b_milli
FROM s
"""


#   * ``agg_kendall_tau_sampled`` — Kendall's tau-b between
#     per-customer order count and total spend under the repo's
#     deterministic md5-capped sample contract (the O(n²) pair space
#     is the reason tau is sampled where Spearman streams).
def agg_kendall_tau_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between per-customer order count and total
    spend, under the deterministic md5-capped 1000-row sample that
    bounds the O(n²) pair space (the same contract as
    `agg_hodges_lehmann` — tau is where sampling is the honest
    distributed answer, Spearman `agg_spearman_rho` is the
    streaming-rank complement).  Concordant/discordant/tie counts
    are exact integers; tau-b is one fixed-shape float."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "r52_tau_orders"
    )
    return spark.sql(
        _TAU_CORE.format(orders="r52_tau_orders", str="STRING")
    )


_TAU_DUCK = _TAU_CORE.format(orders="orders", str="VARCHAR")


# ---------------------------------------------------------------------------
# Diversity indices
# ---------------------------------------------------------------------------

_DIV_CORE = """
WITH bought AS (
  SELECT r.r_name AS region, p.p_type AS t, COUNT(*) AS c
  FROM {lineitem} l
  JOIN {part} p ON p.p_partkey = l.l_partkey
  JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
  JOIN {nation} n ON n.n_nationkey = s.s_nationkey
  JOIN {region} r ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name, p.p_type
), tot AS (
  SELECT region, SUM(c) AS nn FROM bought GROUP BY region
), shannon AS (
  SELECT b.region,
         SUM(CAST(floor(b.c * ln(CAST(t.nn AS DOUBLE) / b.c) * 1000000)
                  AS BIGINT)) AS sh_num,
         SUM(b.c * (b.c - 1)) AS simp_num,
         COUNT(*) AS richness
  FROM bought b JOIN tot t ON t.region = b.region
  GROUP BY b.region
)
SELECT s.region AS region,
       CAST(t.nn AS BIGINT) AS n_items,
       CAST(s.richness AS BIGINT) AS richness,
       CAST(s.sh_num {idiv} t.nn AS BIGINT) AS shannon_micro_nats,
       CAST(1000000 * s.simp_num {idiv} (t.nn * (t.nn - 1)) AS BIGINT)
         AS simpson_concentration_ppm,
       CAST(1000000 - 1000000 * s.simp_num {idiv} (t.nn * (t.nn - 1))
            AS BIGINT) AS simpson_diversity_ppm
FROM shannon s JOIN tot t ON t.region = s.region
ORDER BY region
"""


#   * ``agg_diversity_indices`` — richness, Shannon entropy and the
#     exact-rational Simpson concentration of part types bought per
#     region: the 'how concentrated is this segment' triple every
#     mixture report needs.  Simpson is pure integer arithmetic;
#     Shannon per-term floors before the integer sum.
def agg_diversity_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Richness, Shannon entropy and Simpson concentration of part
    types bought per region.  Simpson λ = Σn_i(n_i−1)/N(N−1) is an
    exact integer rational (ppm integer division); Shannon floors
    each c·ln(N/c) term — one ln of an exact rational — to micro
    units before the integer sum, so H is order-immune.  One fact
    join pass (dimensions broadcast) into a (region, type) groupBy;
    everything after is category-count-sized."""
    for t in ("lineitem", "part", "supplier", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"r53_div_{t}")
    return spark.sql(
        _DIV_CORE.format(
            lineitem="r53_div_lineitem", part="r53_div_part",
            supplier="r53_div_supplier", nation="r53_div_nation",
            region="r53_div_region", idiv="DIV",
        )
    )


_DIV_DUCK = _DIV_CORE.format(
    lineitem="lineitem", part="part", supplier="supplier",
    nation="nation", region="region", idiv="//",
)


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test
# ---------------------------------------------------------------------------

_LB_LAGS = 7


_LB_CORE = f"""
WITH daily AS (
  SELECT {{epoch_us}} {{idiv}} 86400000000 AS d, COUNT(*) AS x
  FROM {{events}} WHERE ts IS NOT NULL
  GROUP BY {{epoch_us}} {{idiv}} 86400000000
), idx AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY d) AS i,
         COUNT(*) OVER () AS n, SUM(x) OVER () AS sx,
         SUM(CAST(x AS DECIMAL(38,0)) * x) OVER () AS sxx
  FROM daily
), lagk AS (
  SELECT a.n, a.sx, a.sxx, k.k,
         COUNT(*) AS nk,
         SUM(CAST(a.x AS DECIMAL(38,0)) * b.x) AS sxy,
         SUM(a.x) AS sa, SUM(b.x) AS sb
  FROM idx a
  JOIN ({{lags}}) k ON 1 = 1
  JOIN idx b ON b.i = a.i - k.k
  GROUP BY a.n, a.sx, a.sxx, k.k
), rk AS (
  SELECT k, n,
         (CAST(n AS DOUBLE) * n * CAST(sxy AS DOUBLE)
          - CAST(n AS DOUBLE) * sx * (CAST(sa AS DOUBLE) + sb)
          + (CAST(n AS DOUBLE) - k) * CAST(sx AS DOUBLE) * sx)
         / (CAST(n AS DOUBLE) * n * CAST(sxx AS DOUBLE)
            - CAST(n AS DOUBLE) * CAST(sx AS DOUBLE) * sx) AS r
  FROM lagk
), terms AS (
  SELECT k, n, CAST(floor(r * 1000000) AS BIGINT) AS rk_micro,
         CAST(floor(r * r / (n - k) * 1000000000) AS BIGINT) AS q_term_nano
  FROM rk
)
SELECT CAST(MAX(n) AS BIGINT) AS n_days,
       CAST({_LB_LAGS} AS BIGINT) AS n_lags,
       CAST(MAX(CASE WHEN k = 1 THEN rk_micro END) AS BIGINT) AS r1_micro,
       CAST(MAX(CASE WHEN k = 7 THEN rk_micro END) AS BIGINT) AS r7_micro,
       CAST(MAX(n) * (MAX(n) + 2) * SUM(q_term_nano)
            {{idiv}} 1000000 AS BIGINT) AS lb_q_milli
FROM terms
"""


#   * ``agg_ljung_box`` — Ljung–Box Q over lags 1..7 of the daily
#     event-count series.  Each autocorrelation is an exact integer
#     rational (mean-centering expanded to scaled integer sums); the
#     per-lag contributions floor to micro units BEFORE the integer
#     sum, so Q is order-immune.
def agg_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box Q over lags 1..7 of the daily event-count series:
    each autocorrelation r_k is an exact integer rational (the mean-
    centering is expanded to n²-scaled integer sums so no running
    float mean exists), evaluated as one fixed-shape float; the
    per-lag r²/(n−k) contributions floor to nano units BEFORE the
    integer sum, so Q is summation-order-immune.  The daily relation
    is bounded by the date span; the k-lag self-join is 7× that
    bounded size."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r53_lb_events"
    )
    lags = " UNION ALL ".join(
        f"SELECT {k} AS k" for k in range(1, _LB_LAGS + 1)
    )
    return spark.sql(
        _LB_CORE.format(
            events="r53_lb_events", epoch_us="unix_micros(ts)",
            idiv="DIV", lags=lags,
        )
    )


_LB_DUCK = _LB_CORE.format(
    events="events", epoch_us="epoch_us(ts)", idiv="//",
    lags=" UNION ALL ".join(
        f"SELECT {k} AS k" for k in range(1, _LB_LAGS + 1)
    ),
)


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard
# ---------------------------------------------------------------------------

_NA_CORE = """
WITH t AS (
  SELECT user_id, {epoch_us} AS us, event_type FROM {events}
), u AS (
  SELECT user_id,
         MIN(us) AS start_us,
         MIN(CASE WHEN event_type = 'error' THEN us END) AS fail_us,
         MAX(us) AS last_us
  FROM t GROUP BY user_id
), d AS (
  SELECT CASE WHEN fail_us IS NOT NULL
              THEN (fail_us - start_us) {idiv} 86400000000
              ELSE (last_us - start_us) {idiv} 86400000000 END AS dur_d,
         (fail_us IS NOT NULL) AS failed
  FROM u
), alld AS (
  SELECT dur_d, COUNT(*) AS exits,
         SUM(CASE WHEN failed THEN 1 ELSE 0 END) AS ev
  FROM d GROUP BY dur_d
), r AS (
  SELECT dur_d, ev, exits,
         SUM(exits) OVER (ORDER BY dur_d
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS exited_before,
         SUM(exits) OVER () AS total
  FROM alld
), na AS (
  SELECT dur_d, ev, total - coalesce(exited_before, 0) AS n
  FROM r WHERE ev > 0
)
SELECT CAST(dur_d AS BIGINT) AS day,
       CAST(n AS BIGINT) AS n_risk,
       CAST(ev AS BIGINT) AS n_events,
       CAST(1000000 * ev {idiv} n AS BIGINT) AS hazard_step_micro,
       CAST(SUM(1000000 * ev {idiv} n)
            OVER (ORDER BY dur_d ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_hazard_micro
FROM na
ORDER BY day
"""


#   * ``agg_survival_nelson_aalen`` — the cumulative-hazard
#     counterpart to `agg_survival_kaplan_meier` over the SAME
#     risk-set construction (days to first error, right-censored):
#     per-day d/n increments floored to micro units, then ONE ordered
#     cumulative integer sum — fully order-immune where KM's product
#     limit needs an ordered ln-sum.
def agg_survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard over the SAME risk-set
    construction as `agg_survival_kaplan_meier` (days to first
    error, right-censored at last activity): per-day increments
    d/n floored to exact integer micro units, then one ordered
    cumulative integer sum — fully order-immune, where the KM
    product limit needs an ordered ln-sum.  The per-user aggregate
    is the only heavy pass; the curve runs on a day-bounded
    relation."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r54_na_events"
    )
    return spark.sql(
        _NA_CORE.format(
            events="r54_na_events", epoch_us="unix_micros(ts)", idiv="DIV"
        )
    )


_NA_DUCK = _NA_CORE.format(events="events", epoch_us="epoch_us(ts)", idiv="//")


# ---------------------------------------------------------------------------
# Price indices
# ---------------------------------------------------------------------------

_PI_Y0 = 1996


_PI_Y1 = 1997


_PRICEIDX_CORE = f"""
WITH li AS (
  SELECT l.l_partkey AS pk,
         CAST(year(o.o_orderdate) AS BIGINT) AS y,
         SUM(CAST(round(l.l_quantity) AS BIGINT)) AS qty,
         SUM(TRY_CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS ext
  FROM {{lineitem}} l JOIN {{orders}} o ON o.o_orderkey = l.l_orderkey
  WHERE year(o.o_orderdate) IN ({_PI_Y0}, {_PI_Y1})
  GROUP BY l.l_partkey, year(o.o_orderdate)
), common AS (
  SELECT a.pk, a.qty AS q0, a.ext AS e0, b.qty AS q1, b.ext AS e1
  FROM (SELECT * FROM li WHERE y = {_PI_Y0}) a
  JOIN (SELECT * FROM li WHERE y = {_PI_Y1}) b ON b.pk = a.pk
  WHERE a.qty > 0 AND b.qty > 0
), s AS (
  SELECT COUNT(*) AS n_parts,
         SUM(e0) AS se0, SUM(e1) AS se1,
         SUM(e1 * q0 {{idiv}} q1) AS l_num,
         SUM(e0 * q1 {{idiv}} q0) AS p_den
  FROM common
)
SELECT CAST(n_parts AS BIGINT) AS n_common_parts,
       CAST(se0 AS BIGINT) AS base_revenue_cents,
       CAST(se1 AS BIGINT) AS current_revenue_cents,
       CAST(1000000 * l_num {{idiv}} se0 AS BIGINT) AS laspeyres_ppm,
       CAST(1000000 * se1 {{idiv}} p_den AS BIGINT) AS paasche_ppm,
       CAST(floor(sqrt((1000000.0 * l_num / se0)
                       * (1000000.0 * se1 / p_den))) AS BIGINT)
         AS fisher_ppm
FROM s
"""


#   * ``agg_price_index_fisher`` — Laspeyres, Paasche and Fisher
#     price indices between two order years over the common part
#     basket, with the per-part revaluations floored to exact cents
#     (the integer definition is the contract, stated in the
#     docstring).
def agg_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche and Fisher price indices between order
    years 1996 and 1997 over the common part basket.  The per-part
    revaluation e1·q0/q1 (what the base basket would cost at current
    unit prices) floors to exact cents per part — that integer
    definition IS the published contract, so both engines and the
    Python cross-check agree to the last ppm; Fisher's geometric
    mean is the single fixed-shape float.  One fact aggregation by
    (part, year), then a part-keyed self-join of the two bounded
    year slices."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "r55_pi_lineitem"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "r55_pi_orders"
    )
    return spark.sql(
        _PRICEIDX_CORE.format(
            lineitem="r55_pi_lineitem", orders="r55_pi_orders", idiv="DIV"
        )
    )


_PRICEIDX_DUCK = _PRICEIDX_CORE.format(
    lineitem="lineitem", orders="orders", idiv="//"
)


QUERIES = {
    "agg_user_engagement_bitmap": agg_user_engagement_bitmap,
    "agg_width_bucket_histogram": agg_width_bucket_histogram,
    "agg_distinct_by_status": agg_distinct_by_status,
    "agg_rollup_nation_segment": agg_rollup_nation_segment,
    "agg_cube_flag_status": agg_cube_flag_status,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_price_moments": agg_price_moments,
    "agg_qty_price_correlation": agg_qty_price_correlation,
    "agg_acctbal_percentiles": agg_acctbal_percentiles,
    "agg_conditional_lineitem": agg_conditional_lineitem,
    "agg_approx_sketches": agg_approx_sketches,
    "agg_incremental_mv_merge": agg_incremental_mv_merge,
    "agg_equidepth_histogram": agg_equidepth_histogram,
    "agg_mode_per_group": agg_mode_per_group,
    "agg_customer_ltv_deciles": agg_customer_ltv_deciles,
    "agg_hll_partition_merge": agg_hll_partition_merge,
    "agg_exact_median_distributed": agg_exact_median_distributed,
    "agg_histogram_quantile_merge": agg_histogram_quantile_merge,
    "agg_linear_regression": agg_linear_regression,
    "agg_benford_profile": agg_benford_profile,
    "agg_chi2_independence": agg_chi2_independence,
    "agg_gini_concentration": agg_gini_concentration,
    "agg_welch_ttest": agg_welch_ttest,
    "agg_weighted_median_twopass": agg_weighted_median_twopass,
    "agg_bootstrap_ci_poisson": agg_bootstrap_ci_poisson,
    "agg_survival_kaplan_meier": agg_survival_kaplan_meier,
    "agg_mann_whitney_u": agg_mann_whitney_u,
    "agg_pareto_abc": agg_pareto_abc,
    "agg_spearman_rho": agg_spearman_rho,
    "agg_ks_test": agg_ks_test,
    "agg_autocorrelation": agg_autocorrelation,
    "agg_theil_index": agg_theil_index,
    "agg_kruskal_wallis": agg_kruskal_wallis,
    "agg_correlation_matrix": agg_correlation_matrix,
    "agg_levene_variance_test": agg_levene_variance_test,
    "agg_heavy_hitters": agg_heavy_hitters,
    "agg_basket_overlap": agg_basket_overlap,
    "agg_trimmed_winsorized_mean": agg_trimmed_winsorized_mean,
    "agg_count_min_sketch": agg_count_min_sketch,
    "agg_tail_cvar": agg_tail_cvar,
    "agg_anova_f": agg_anova_f,
    "agg_jarque_bera": agg_jarque_bera,
    "agg_durbin_watson": agg_durbin_watson,
    "agg_theils_u": agg_theils_u,
    "agg_geometric_harmonic_means": agg_geometric_harmonic_means,
    "agg_permutation_test_lift": agg_permutation_test_lift,
    "agg_mcnemar_paired": agg_mcnemar_paired,
    "agg_capture_recapture": agg_capture_recapture,
    "agg_chao1_vocab_estimate": agg_chao1_vocab_estimate,
    "agg_fisher_exact": agg_fisher_exact,
    "agg_bh_fdr": agg_bh_fdr,
    "agg_hodges_lehmann": agg_hodges_lehmann,
    "agg_hill_tail_index": agg_hill_tail_index,
    "agg_effect_size_panel": agg_effect_size_panel,
    "agg_kendall_tau_sampled": agg_kendall_tau_sampled,
    "agg_diversity_indices": agg_diversity_indices,
    "agg_ljung_box": agg_ljung_box,
    "agg_survival_nelson_aalen": agg_survival_nelson_aalen,
    "agg_price_index_fisher": agg_price_index_fisher,
}

ORACLE = {
    "agg_user_engagement_bitmap": _BITMAP_SQL,
    "agg_width_bucket_histogram": _WIDTH_BUCKET_SQL,
    "agg_distinct_by_status": _AGG_DISTINCT_SQL,
    "agg_rollup_nation_segment": _AGG_ROLLUP_SQL,
    "agg_cube_flag_status": _AGG_CUBE_SQL,
    "agg_grouping_sets": _AGG_GROUPING_SETS_SQL,
    "agg_price_moments": _MOMENTS_SQL,
    "agg_qty_price_correlation": _CORR_SQL,
    "agg_acctbal_percentiles": _PCTL_SQL,
    "agg_conditional_lineitem": _COND_SQL,
    "agg_approx_sketches": _APPROX_SQL,
    "agg_incremental_mv_merge": _MV_MERGE_SQL,
    "agg_equidepth_histogram": _EQUIDEPTH_SQL,
    "agg_mode_per_group": _MODE_SQL,
    "agg_customer_ltv_deciles": _LTV_DECILES_SQL,
    "agg_hll_partition_merge": _HLL_MERGE_SQL,
    "agg_exact_median_distributed": _MEDIAN_SQL,
    "agg_histogram_quantile_merge": _HQ_DUCK,
    "agg_linear_regression": _OLS_DUCK,
    "agg_benford_profile": _BENFORD_DUCK,
    "agg_chi2_independence": _CHI2_DUCK,
    "agg_gini_concentration": _GINI_DUCK,
    "agg_welch_ttest": _WELCH_DUCK,
    "agg_weighted_median_twopass": _WM_DUCK,
    "agg_bootstrap_ci_poisson": _BOOT_DUCK,
    "agg_survival_kaplan_meier": _KM_DUCK,
    "agg_mann_whitney_u": _MW_DUCK,
    "agg_pareto_abc": _abc_duck(),
    "agg_spearman_rho": _SPEAR_DUCK,
    "agg_ks_test": _KS_DUCK,
    "agg_autocorrelation": _ACF_DUCK,
    "agg_theil_index": _THEIL_DUCK,
    "agg_kruskal_wallis": _KW_DUCK,
    "agg_correlation_matrix": _CM_DUCK,
    "agg_levene_variance_test": _LEV_DUCK,
    "agg_heavy_hitters": _HH_SQL,
    "agg_basket_overlap": _BASKET_SQL,
    "agg_trimmed_winsorized_mean": _TRIM_SQL,
    "agg_count_min_sketch": _CMS_DUCK,
    "agg_tail_cvar": _TAIL_DUCK,
    "agg_anova_f": _ANOVA_DUCK,
    "agg_jarque_bera": _JB_DUCK,
    "agg_durbin_watson": _DW_DUCK,
    "agg_theils_u": _THEILU_DUCK,
    "agg_geometric_harmonic_means": _MEANS_DUCK,
    "agg_permutation_test_lift": _PERM_DUCK,
    "agg_mcnemar_paired": _MCNEMAR_DUCK,
    "agg_capture_recapture": _CHAPMAN_DUCK,
    "agg_chao1_vocab_estimate": _CHAO1_DUCK,
    "agg_fisher_exact": _FISHER_DUCK,
    "agg_bh_fdr": _BH_DUCK,
    "agg_hodges_lehmann": _HL_DUCK,
    "agg_hill_tail_index": _HILL_DUCK,
    "agg_effect_size_panel": _EFFECT_DUCK,
    "agg_kendall_tau_sampled": _TAU_DUCK,
    "agg_diversity_indices": _DIV_DUCK,
    "agg_ljung_box": _LB_DUCK,
    "agg_survival_nelson_aalen": _NA_DUCK,
    "agg_price_index_fisher": _PRICEIDX_DUCK,
}
