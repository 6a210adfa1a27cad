"""Join shapes: outer, semi and anti joins, range and interval joins,
as-of and point-in-time joins, salted and skew-split joins, a Bloom
pre-filter, a spatial grid join and a null-safe join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import cents, money_sum
from ..operators.library import asof_join, grid_join, interval_overlap_join
from ..sources.readers import load_table
from .contract import (
    money_rounded,
    money_rounded_sql,
    tpch_date_valid,
    tpch_date_valid_sql,
)
from .ts import _DAY_US
from . import bind_sql


# ---------------------------------------------------------------------------
# Join family: left outer with agg, semi, anti
# ---------------------------------------------------------------------------

def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(money_sum(F.col("o_totalprice")), F.lit(0.0)).alias("total_spend"),
        )
    )


_JOIN_LEFT_SQL = """
SELECT
  c_custkey, c_name, c_mktsegment,
  COUNT(o_orderkey) AS n_orders,
  COALESCE(CAST(SUM(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 0.0) AS total_spend
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name, c_mktsegment
"""


def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


_JOIN_SEMI_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
"""


def join_anti_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # "no urgent order" rather than "no order at all": the fixture has
    # an order for every customer, which would make the anti-join
    # vacuously empty and the oracle check meaningless.
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )


_JOIN_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment, c_acctbal
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
"""


# ---------------------------------------------------------------------------
# Range (non-equi) join: histogram of event values against a bucket dim
# ---------------------------------------------------------------------------

_BUCKETS = [(float(lo), float(lo + 50)) for lo in range(0, 350, 50)]


def join_range_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    buckets = spark.createDataFrame(_BUCKETS, "lo double, hi double")
    # tiny bucket dim broadcast -> non-equi condition runs as
    # BroadcastNestedLoopJoin: each event row tests 7 ranges, no shuffle
    return (
        events.join(
            F.broadcast(buckets),
            (events.value >= buckets.lo) & (events.value < buckets.hi),
        )
        .groupBy("lo", "hi")
        .agg(
            F.count("*").alias("n_events"),
            money_sum(F.col("value")).alias("value_sum"),
        )
    )


_JOIN_RANGE_SQL = """
SELECT
  lo, hi,
  COUNT(*) AS n_events,
  CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
FROM events
JOIN (VALUES (0.0, 50.0), (50.0, 100.0), (100.0, 150.0), (150.0, 200.0),
             (200.0, 250.0), (250.0, 300.0), (300.0, 350.0)) AS b(lo, hi)
  ON value >= lo AND value < hi
GROUP BY lo, hi
"""


# ---------------------------------------------------------------------------
# As-of join: for each purchase, the most recent preceding view (same user)
# ---------------------------------------------------------------------------

def join_asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable as-of join via the tagged-union + ordered-window trick.

    Rather than a per-key merge (driver-side) or a crossJoin, union the
    two sides with a kind tag and take a running max of the view
    timestamps — one shuffle on user_id, linear work, no N×M blowup.
    Semantics: last view with v.ts <= p.ts (views sort before purchases
    on timestamp ties).
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "view", F.lit(0)).otherwise(F.lit(1)).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.max(F.when(F.col("kind") == 0, F.col("ts"))).over(w)
    out = (
        tagged.withColumn("last_view_ts", last_view)
        .where(F.col("kind") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.unix_micros(F.col("ts")).alias("purchase_ts_us"),
            F.unix_micros(F.col("last_view_ts")).alias("last_view_ts_us"),
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_view_ts"))).alias("gap_us"),
        )
    )
    return out


_JOIN_ASOF_SQL = """
WITH t AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
  FROM events
  WHERE event_type IN ('view', 'purchase')
), m AS (
  SELECT *,
         MAX(CASE WHEN kind = 0 THEN ts END) OVER (
           PARTITION BY user_id
           ORDER BY ts, kind, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS last_view_ts
  FROM t
)
SELECT
  event_id AS purchase_id,
  user_id,
  epoch_us(ts) AS purchase_ts_us,
  epoch_us(last_view_ts) AS last_view_ts_us,
  epoch_us(ts) - epoch_us(last_view_ts) AS gap_us
FROM m
WHERE kind = 1
"""


# ---------------------------------------------------------------------------
# Full outer join: per-nation customer vs supplier presence
# ---------------------------------------------------------------------------

def join_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count("*").alias("n_customers"))
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return (
        cust.join(sup, cust.nk_c == sup.nk_s, "full_outer")
        .select(
            F.coalesce(F.col("nk_c"), F.col("nk_s")).alias("nationkey"),
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
    )


_FULL_OUTER_SQL = """
WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1)
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nk = s.nk
"""


# ---------------------------------------------------------------------------
# Salted join: the manual skew weapon
# ---------------------------------------------------------------------------

_SALT_N = 8


#   * a salted join (the manual skew weapon, proven result-identical to
#     the plain join),
def join_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join, result-identical to the plain join (the
    oracle IS the plain join). The build side replicates each row
    across ``_SALT_N`` salts; the probe side assigns one deterministic
    salt per row; joining on (key, salt) splits a hot key's rows across
    ``_SALT_N`` reducers. AQE's skew-join handles most cases at runtime
    — manual salting remains the tool when stats are unavailable
    (stream-static joins) or a single key exceeds one executor even
    after AQE splitting. Cost: build-side rows x ``_SALT_N`` (so salt
    only the skewed keys in production; here every key is salted to
    keep the plan assertable)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_linenumber"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    salted_orders = orders.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_N)]))
    )
    salted_li = li.withColumn(
        "salt", F.pmod(F.col("l_linenumber"), F.lit(_SALT_N)).cast("int")
    )
    joined = salted_li.join(
        salted_orders,
        (salted_li.l_orderkey == salted_orders.o_orderkey)
        & (salted_li.salt == salted_orders.salt),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(
            cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("revenue_cents"),
    )


_SALTED_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Bloom-prefiltered join (runtime filter across an optimizer boundary)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 4096  # 64 longs; sized for the filtered dim cardinality


#   * ``join_bloom_prefilter`` — the runtime-filter pattern: a compact
#     bloom bitmap built from the (filtered) dim keys prunes the fact
#     scan BEFORE the exact semi join. Catalyst injects this itself for
#     shuffle joins (spark.sql.optimizer.runtime.bloomFilter.enabled);
#     the explicit form is the tool when the filter must cross a
#     boundary Catalyst can't see (stream-static, pre-shuffle persist,
#     handoff between jobs). The oracle is the PLAIN semi join — bloom
#     false positives are removed by the exact join, so the hash match
#     proves the prefilter is semantics-free.
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lineitems shipped by EUROPE-region suppliers.

    Stage 1 builds a 4096-bit bloom (two xxhash64-derived bit
    positions per key) from the FILTERED supplier keys — 64 longs,
    collected to the driver (bounded scalar: the bitmap size is fixed
    by design, independent of data volume) and inlined as a literal
    array so the probe is pure codegen bit arithmetic on the fact
    scan. Stage 2 removes false positives with the exact broadcast
    semi join. At 100 TB the bloom drops ~|non-matching|·(1-fpr) of
    fact rows before the join's hash probe; the pattern's value is
    that the bitmap can be built once and applied where Catalyst's
    own runtime filter can't reach."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    supp = load_table(spark, sf_dir, "supplier")
    dim = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "EUROPE")
        .select("s_suppkey")
    )
    bits = dim.select(
        F.expr(f"pmod(xxhash64(s_suppkey), {_BLOOM_BITS})").alias("b1"),
        F.expr(
            f"pmod(xxhash64(s_suppkey) DIV {_BLOOM_BITS}, {_BLOOM_BITS})"
        ).alias("b2"),
    )
    words = (
        bits.select(F.explode(F.array("b1", "b2")).alias("bit"))
        .select(
            F.expr("CAST(bit DIV 64 AS INT)").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bitmap = [0] * (_BLOOM_BITS // 64)
    for r in words:
        bitmap[r["word"]] = r["bits"]
    lit_bitmap = F.array(*[F.lit(w).cast("long") for w in bitmap])

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    # the bit test is `& 1`, NOT `% 2`: shiftrightunsigned by 0 keeps
    # the sign bit, and Spark's % takes the dividend's sign, so a word
    # with bit 63 set would probe (-odd) % 2 = -1 and read as ABSENT —
    # a false negative that only appears once the bitmap is dense
    # enough to co-locate bit 63 with a probed bit (bit at sf0.1,
    # invisible at sf0.01)
    probe_sql = (
        "(shiftrightunsigned(element_at(bm, CAST({b} DIV 64 AS INT) + 1),"
        " CAST({b} % 64 AS INT)) & 1) = 1"
    )
    lb1 = f"pmod(xxhash64(l_suppkey), {_BLOOM_BITS})"
    lb2 = f"pmod(xxhash64(l_suppkey) DIV {_BLOOM_BITS}, {_BLOOM_BITS})"
    prefiltered = (
        li.withColumn("bm", lit_bitmap)
        .where(F.expr(probe_sql.format(b=lb1)) & F.expr(probe_sql.format(b=lb2)))
        .drop("bm")
    )
    exact = prefiltered.join(F.broadcast(dim), prefiltered.l_suppkey == dim.s_suppkey, "semi")
    return exact.agg(
        F.count("*").alias("n_items"),
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue_cents"
        ),
    )


_BLOOM_SQL = """
SELECT COUNT(*) AS n_items,
       CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM lineitem
WHERE l_suppkey IN (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
"""


# ---------------------------------------------------------------------------
# Interval-overlap join (bucketed, not nested-loop)
# ---------------------------------------------------------------------------

_BUCKET_US = 6 * 3600 * 1_000_000


#   * ``join_interval_overlap`` — interval-overlap join between per-day
#     purchase-activity and view-activity intervals of the same user.
#     The Spark plan is the SCALABLE form: intervals explode into
#     fixed-width time buckets, the join is an equi-join on (user,
#     bucket), the exact overlap predicate filters, and a distinct
#     collapses multi-bucket duplicates — never the O(n^2)
#     broadcast-nested-loop a raw theta join would pick.
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap join between each user's per-day purchase-activity
    interval and per-day view-activity interval. A raw theta join
    (s1 <= e2 AND s2 <= e1) plans as a nested loop; the scalable form
    used here explodes every interval into the fixed 6-hour buckets
    it covers, equi-joins on (user, bucket) — so only co-located,
    time-adjacent intervals ever meet — applies the exact overlap
    predicate, and dedups the multi-bucket matches. Bucket width is
    the tuning knob: ~max interval length keeps the explode factor
    ≤ 2 while the join stays hash-partitioned."""
    ev = load_table(spark, sf_dir, "events")

    def intervals(kind: str, day_alias: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == kind)
            .groupBy(
                "user_id",
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                    day_alias
                ),
            )
            .agg(
                F.min(F.unix_micros("ts")).alias("s_us"),
                F.max(F.unix_micros("ts")).alias("e_us"),
            )
        )

    a = intervals("purchase", "purchase_day").withColumnsRenamed(
        {"s_us": "ps_us", "e_us": "pe_us"}
    )
    b = intervals("view", "view_day").withColumnsRenamed(
        {"s_us": "vs_us", "e_us": "ve_us"}
    )
    return interval_overlap_join(
        a, b, ["user_id"], ("ps_us", "pe_us"), ("vs_us", "ve_us"), _BUCKET_US
    ).select(
        "user_id",
        "purchase_day",
        "view_day",
        (F.least("pe_us", "ve_us") - F.greatest("ps_us", "vs_us")).alias("overlap_us"),
    )


_INTERVAL_SQL = """
WITH p AS (
  SELECT user_id,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS purchase_day,
         MIN(epoch_us(ts)) AS ps_us, MAX(epoch_us(ts)) AS pe_us
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), v AS (
  SELECT user_id,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS view_day,
         MIN(epoch_us(ts)) AS vs_us, MAX(epoch_us(ts)) AS ve_us
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT p.user_id, purchase_day, view_day,
       CAST(LEAST(pe_us, ve_us) - GREATEST(ps_us, vs_us) AS BIGINT)
         AS overlap_us
FROM p JOIN v ON p.user_id = v.user_id
WHERE ps_us <= ve_us AND vs_us <= pe_us
"""


# ---------------------------------------------------------------------------
# Spatial grid join
# ---------------------------------------------------------------------------

_GRID = 1000      # coordinate domain [0, 1000)^2


_RADIUS = 20      # Chebyshev join radius; cell size == radius


def _xy(key_col: str):
    x = F.expr(
        f"CAST(conv(substr(md5(CAST({key_col} AS STRING)), 1, 6), 16, 10) "
        f"AS BIGINT) % {_GRID}"
    )
    y = F.expr(
        f"CAST(conv(substr(md5(CAST({key_col} AS STRING)), 7, 6), 16, 10) "
        f"AS BIGINT) % {_GRID}"
    )
    return x, y


#   * ``join_spatial_grid`` — proximity join between two synthetic
#     point sets (coordinates derived deterministically from key
#     hashes) via GRID BUCKETING: each probe point explodes to its 3×3
#     neighbor cells, the join is an equi-join on the cell id, and the
#     exact Chebyshev predicate filters. The scalable form of a spatial
#     theta join — the same shape as geohash/S2 joins at 100 TB, where
#     a raw distance join would be a cross product.
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers within Chebyshev distance 20 of each supplier, on
    hash-derived coordinates. Suppliers (the small side) explode to
    their 9 neighbor cells; the join is equi on cell id and stays
    hash-partitioned — probe volume is 9 rows per supplier, never
    |suppliers| × |customers|.

    Pinned duplicate-key rule (round-10 layer 2): a duplicate entity
    key is ONE point — coordinates are key-derived, so the inputs
    dedup on key; without the rule the multi-cell candidate dedup
    inside grid_join collapses duplicate ROWS in one engine while the
    oracle's row-wise join multiplies them."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    cx, cy = _xy("c_custkey")
    sx, sy = _xy("s_suppkey")
    c = cust.select("c_custkey", cx.alias("cx"), cy.alias("cy")).distinct()
    s = supp.select("s_suppkey", sx.alias("sx"), sy.alias("sy")).distinct()
    return grid_join(
        c, s, ("cx", "cy"), ("sx", "sy"), radius=_RADIUS
    ).select(
        "s_suppkey",
        "c_custkey",
        F.greatest(
            F.abs(F.col("cx") - F.col("sx")),
            F.abs(F.col("cy") - F.col("sy")),
        ).alias("chebyshev_dist"),
    )


_SPATIAL_SQL = f"""
WITH c AS (
  SELECT DISTINCT c_custkey,
         CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS BIGINT)
           % {_GRID} AS cx,
         CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 7, 6) AS BIGINT)
           % {_GRID} AS cy
  FROM customer
), s AS (
  SELECT DISTINCT s_suppkey,
         CAST('0x' || substr(md5(CAST(s_suppkey AS VARCHAR)), 1, 6) AS BIGINT)
           % {_GRID} AS sx,
         CAST('0x' || substr(md5(CAST(s_suppkey AS VARCHAR)), 7, 6) AS BIGINT)
           % {_GRID} AS sy
  FROM supplier
)
SELECT s_suppkey, c_custkey,
       GREATEST(ABS(cx - sx), ABS(cy - sy)) AS chebyshev_dist
FROM s JOIN c
  ON ABS(cx - sx) <= {_RADIUS} AND ABS(cy - sy) <= {_RADIUS}
"""


#   * ``join_point_in_time`` — the PIT (as-of) dimension join behind
#     every leakage-free feature store and SCD2 lookup: each order is
#     joined to the customer's tier AS OF the day before the order
#     (states derived from the customer's own prior order count). Built
#     on the library ``asof_join`` — one tagged-union window pass, never
#     an N×M interval expansion. DuckDB's native ASOF JOIN is the
#     oracle, so the semantics are checked against an independent
#     implementation of the same concept.
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order joined to its customer's tier AS OF the day before
    the order date. The dimension is an SCD2-style state series
    derived from the data itself: after a customer's n-th order day
    their tier is min(n, 5), effective the NEXT day (valid_from =
    order day + 1), so an order never sees state created by itself —
    the leakage rule every feature-store PIT join enforces. First
    orders match nothing and land in tier 0. One union-window pass
    (library asof_join); the oracle is DuckDB's native ASOF JOIN.

    Hostile-ingest rules (round-10 layer 2): an order with no valid
    business date has no point-in-time position (the as-of union
    window orders NULLs differently per engine), and cents are
    money-domain bounded (Spark's revenue SUM wraps where DuckDB
    widens)."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(tpch_date_valid("o_orderdate"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "ts_us"
            ),
            money_rounded("o_totalprice").alias("price_cents"),
        )
    )
    per_day = (
        orders.groupBy("o_custkey", "ts_us")
        .agg(F.count("*").alias("n_day"))
        .withColumn(
            "cum",
            F.sum("n_day").over(
                Window.partitionBy("o_custkey")
                .orderBy("ts_us")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    dim = per_day.select(
        "o_custkey",
        (F.col("ts_us") + F.lit(_DAY_US)).alias("valid_from_us"),
        F.least(F.col("cum"), F.lit(5)).cast("bigint").alias("tier"),
    )
    pit = asof_join(
        orders,
        dim,
        by="o_custkey",
        left_ts="ts_us",
        right_ts="valid_from_us",
        value_cols=["tier"],
    )
    return (
        pit.select(
            F.coalesce("asof_tier", F.lit(0)).alias("tier_as_of_order"),
            "price_cents",
        )
        .groupBy("tier_as_of_order")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price_cents").alias("revenue_cents"),
        )
    )


_PIT_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS ts_us,
         {money_rounded_sql('o_totalprice')} AS price_cents
  FROM orders WHERE {tpch_date_valid_sql('o_orderdate')}
), per_day AS (
  SELECT o_custkey, ts_us, COUNT(*) AS n_day
  FROM o GROUP BY 1, 2
), dim AS (
  SELECT o_custkey,
         ts_us + {_DAY_US} AS valid_from_us,
         CAST(LEAST(SUM(n_day) OVER (PARTITION BY o_custkey ORDER BY ts_us
                    ROWS UNBOUNDED PRECEDING), 5) AS BIGINT) AS tier
  FROM per_day
)
SELECT COALESCE(dim.tier, 0) AS tier_as_of_order,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o.price_cents) AS BIGINT) AS revenue_cents
FROM o
ASOF LEFT JOIN dim
  ON o.o_custkey = dim.o_custkey AND dim.valid_from_us <= o.ts_us
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Hybrid skew-split join
# ---------------------------------------------------------------------------

_HOT_KEYS = 100


# Hot-set sampling for the production variant: at any realistic skew a
# dominant key appears thousands of times per 1e6 rows, so a 2%
# Bernoulli sample still surfaces it with near certainty, and the
# sample's count/top-k cost is 50x smaller than the exact scan. The
# seed is fixed for run-to-run stability; correctness never depends on
# WHICH keys are picked (any split is result-identical).
_HOT_SAMPLE_FRACTION = 0.02


_HOT_SAMPLE_SEED = 42


def _hybrid_split_join(li: DataFrame, orders: DataFrame, hot: DataFrame) -> DataFrame:
    """Split both sides on membership in ``hot`` (a tiny one-column
    key relation), broadcast-join the hot slices, sort-merge-join the
    cold remainder, union, and re-aggregate. Result-identical to the
    plain join for ANY ``hot`` set: every lineitem row takes exactly
    one path and meets exactly its matching orders rows."""
    li_hot = li.join(F.broadcast(hot), li.l_orderkey == hot.hot_key).drop("hot_key")
    li_cold = li.join(
        F.broadcast(hot), li.l_orderkey == hot.hot_key, "left_anti"
    )
    o_hot = orders.join(
        F.broadcast(hot), orders.o_orderkey == hot.hot_key
    ).drop("hot_key")
    o_cold = orders.join(
        F.broadcast(hot), orders.o_orderkey == hot.hot_key, "left_anti"
    )
    joined = li_hot.join(
        F.broadcast(o_hot), li_hot.l_orderkey == o_hot.o_orderkey
    ).unionByName(
        li_cold.hint("merge").join(
            o_cold, li_cold.l_orderkey == o_cold.o_orderkey
        )
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(
            cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("revenue_cents"),
    )


def _hybrid_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    return li, orders


#   * ``join_hybrid_skew_split`` — the broadcast/shuffle HYBRID join:
#     rows carrying the hottest keys take a broadcast path (the hot
#     build-side slice is tiny by construction), everything else takes
#     the ordinary shuffle path, and the union is result-identical to
#     the plain join (the oracle IS the plain join). This is the
#     manual form of what AQE's skew-join approximates — the tool for
#     when a handful of keys dominate and even salted splitting leaves
#     the build side unbroadcastable.
def join_hybrid_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders split by key temperature: the ``_HOT_KEYS``
    most frequent orderkeys join through a broadcast of their (tiny)
    orders slice; the remaining keys join through the normal shuffle
    path (pinned to sort-merge so the split is visible in the plan);
    the union re-aggregates. This variant computes the hot set with an
    exact count (top-k via TakeOrderedAndProject, so the full sort
    never materializes); ``join_hybrid_skew_sampled`` is the
    production form whose hot set comes from a sample. Both are
    result-identical to the plain join — the oracle IS the plain
    join."""
    li, orders = _hybrid_inputs(spark, sf_dir)
    hot = (
        li.groupBy("l_orderkey")
        .count()
        .orderBy(F.desc("count"), "l_orderkey")
        .limit(_HOT_KEYS)
        .select(F.col("l_orderkey").alias("hot_key"))
    )
    return _hybrid_split_join(li, orders, hot)


def join_hybrid_skew_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of the hybrid skew join: the hot-key set comes
    from a fixed-seed Bernoulli sample of the fact side
    (``_HOT_SAMPLE_FRACTION``), not an exact full count — at 100 TB
    the exact frequency scan is a full extra pass over the fact table,
    while the sample reads ~2% and any truly hot key is still caught
    with near certainty. Correctness does NOT depend on the sample:
    the split is result-identical to the plain join for any hot set
    (a missed hot key only moves rows to the shuffle path), which is
    why the oracle is the same plain join as the exact variant."""
    li, orders = _hybrid_inputs(spark, sf_dir)
    hot = (
        li.sample(fraction=_HOT_SAMPLE_FRACTION, seed=_HOT_SAMPLE_SEED)
        .groupBy("l_orderkey")
        .count()
        .orderBy(F.desc("count"), "l_orderkey")
        .limit(_HOT_KEYS)
        .select(F.col("l_orderkey").alias("hot_key"))
    )
    return _hybrid_split_join(li, orders, hot)


_HYBRID_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(TRY_CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Nearest-in-time as-of join (bidirectional, with tolerance)
# ---------------------------------------------------------------------------

_NEAREST_TOL_US = 2 * 3600 * 1_000_000  # 2 hours


_NEAREST_CORE = f"""
WITH tagged AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
  FROM {{events}} WHERE event_type IN ('view', 'purchase')
), fenced AS (
  SELECT event_id, user_id, ts, kind,
         max(CASE WHEN kind = 0 THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, kind, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view,
         min(CASE WHEN kind = 0 THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, kind, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_view
  FROM tagged
), deltas AS (
  SELECT event_id AS purchase_id, user_id,
         {{us}}(ts) AS purchase_ts_us,
         {{us}}(ts) - {{us}}(prev_view) AS back_us,
         {{us}}(next_view) - {{us}}(ts) AS fwd_us
  FROM fenced WHERE kind = 1
)
SELECT purchase_id, user_id, purchase_ts_us,
       CASE
         WHEN back_us IS NOT NULL AND back_us <= {_NEAREST_TOL_US}
              AND (fwd_us IS NULL OR back_us <= fwd_us
                   OR fwd_us > {_NEAREST_TOL_US})
           THEN purchase_ts_us - back_us
         WHEN fwd_us IS NOT NULL AND fwd_us <= {_NEAREST_TOL_US}
           THEN purchase_ts_us + fwd_us
         ELSE NULL
       END AS nearest_view_ts_us,
       CASE
         WHEN back_us IS NOT NULL AND back_us <= {_NEAREST_TOL_US}
              AND (fwd_us IS NULL OR back_us <= fwd_us
                   OR fwd_us > {_NEAREST_TOL_US})
           THEN 'backward'
         WHEN fwd_us IS NOT NULL AND fwd_us <= {_NEAREST_TOL_US}
           THEN 'forward'
         ELSE NULL
       END AS direction
FROM deltas
"""


_NEAREST_SPARK = _NEAREST_CORE.format(events="{events}", us="unix_micros")


_NEAREST_DUCK = _NEAREST_CORE.format(events="events", us="epoch_us")


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join with a ±2h tolerance: every purchase
    matches its closest same-user view in EITHER direction (ties and
    equal distances prefer the earlier/backward view). Both direction
    fences come from one tagged union + ONE user_id window exchange —
    two frame-restricted conditional extrema, no N×M interval
    expansion, same scale shape as the backward-only ``asof_join``
    primitive. Purchases with no view inside the tolerance survive
    with NULLs (left-outer semantics)."""
    from ..sources.readers import load_table as _lt

    return bind_sql(spark, _NEAREST_SPARK, events=_lt(spark, sf_dir, "events"))


_ASOF_COG_SCHEMA = (
    "purchase_id bigint, user_id bigint, purchase_ts_us bigint, "
    "last_view_ts_us bigint, gap_us bigint"
)


def _asof_merge(purchases: pd.DataFrame, views: pd.DataFrame) -> pd.DataFrame:
    """Per-user backward merge_asof: last view ts <= purchase ts
    (exact matches allowed — mirrors the views-sort-before-purchases
    tie rule of the relational form). Either side may be empty."""
    if not len(purchases):
        return pd.DataFrame(
            columns=[
                "purchase_id", "user_id", "purchase_ts_us",
                "last_view_ts_us", "gap_us",
            ]
        )
    p = purchases.sort_values("ts_us").reset_index(drop=True)
    if len(views):
        v = (
            views.sort_values("ts_us")
            .reset_index(drop=True)[["ts_us"]]
            .rename(columns={"ts_us": "last_view_ts_us"})
        )
        merged = pd.merge_asof(
            p,
            v,
            left_on="ts_us",
            right_on="last_view_ts_us",
            allow_exact_matches=True,
            direction="backward",
        )
    else:
        merged = p.assign(last_view_ts_us=pd.NA)
    out = pd.DataFrame(
        {
            "purchase_id": merged["event_id"].astype("Int64"),
            "user_id": merged["user_id"].astype("Int64"),
            "purchase_ts_us": merged["ts_us"].astype("Int64"),
            "last_view_ts_us": merged["last_view_ts_us"].astype("Int64"),
        }
    )
    out["gap_us"] = (out["purchase_ts_us"] - out["last_view_ts_us"]).astype(
        "Int64"
    )
    return out


#   * ``join_asof_cogrouped`` — the as-of join expressed through
#     PySpark's cogrouped-map API (``groupBy().cogroup().applyInPandas``
#     with a per-key ``pandas.merge_asof``): the one major pandas-UDF
#     entry point the package did not yet exercise. Result-identical to
#     the relational tagged-union form (``join_asof_purchase_last_view``)
#     and checked against the SAME SQL oracle — engine-parity across a
#     DataFrame plan, a pandas cogroup plan, and DuckDB is the
#     strongest three-way pin of the as-of semantics. Scale posture:
#     cogroup shuffles BOTH inputs on user_id once and hands each key's
#     two frames to Arrow — per-key work is linear (merge_asof over
#     sorted frames), but the relational form stays the default because
#     it keeps the whole plan in codegen; this op exists to cover (and
#     test) the API, and as the template for per-key logic that SQL
#     genuinely cannot express.
def join_asof_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via ``cogroup().applyInPandas``: purchases and views
    both shuffle once on user_id; each key's two Arrow frames meet in
    one ``merge_asof``. Identical output (and the identical SQL
    oracle) to the tagged-union window form — the three-way parity
    pin for the as-of semantics and the package's coverage of the
    cogrouped-map API. Scoped to the deterministic 1-in-7 user
    subset: cogroup invokes Python once PER KEY, so the full-corpus
    form costs key-count x interpreter round-trips for an operator
    whose job is API coverage, not throughput (measured 6.9s vs the
    window form's 0.3s at sf0.1 full-corpus — which is exactly WHY
    the relational form is the default)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
        & (F.col("user_id") % 7 == 0)
    )
    base = ev.select(
        "event_id", "user_id", "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    purchases = base.where("event_type = 'purchase'").drop("event_type")
    views = base.where("event_type = 'view'").drop("event_type")
    return (
        purchases.groupBy("user_id")
        .cogroup(views.groupBy("user_id"))
        .applyInPandas(_asof_merge, schema=_ASOF_COG_SCHEMA)
    )


# Identical semantics to _JOIN_ASOF_SQL (relational.py) — restated
# under this op's name so the driver pairs it independently.
_ASOF_COG_SQL = """
WITH t AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
  FROM events
  WHERE event_type IN ('view', 'purchase') AND user_id % 7 = 0
), m AS (
  SELECT *,
         MAX(CASE WHEN kind = 0 THEN ts END) OVER (
           PARTITION BY user_id
           ORDER BY ts, kind, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS last_view_ts
  FROM t
)
SELECT event_id AS purchase_id,
       user_id,
       epoch_us(ts) AS purchase_ts_us,
       epoch_us(last_view_ts) AS last_view_ts_us,
       epoch_us(ts) - epoch_us(last_view_ts) AS gap_us
FROM m WHERE kind = 1
"""


# ---------------------------------------------------------------------------
# Null-safe equality join
# ---------------------------------------------------------------------------

_NS_SMALL = 25  # p_size cutoff for the "small parts" slice


#   * ``join_null_safe`` — null-safe equality join (``<=>`` /
#     ``IS NOT DISTINCT FROM``): the one equality variant the join
#     family did not yet cover; NULL bucket keys match each other
#     instead of silently dropping.
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (DataFrame ``eqNullSafe``, SQL ``<=>``
    / ``IS NOT DISTINCT FROM``): brand buckets where every brand
    outside the Brand#1x family maps to NULL, joined between the
    full-catalog profile and the small-parts slice. A plain equi-join
    silently drops the NULL bucket on both sides; the null-safe form
    matches NULL with NULL, so the "unbucketed rest" row survives
    with its counts — the semantics audits and SCD pipelines need for
    nullable business keys. Both sides are aggregates first (bounded
    key domains), so the NULL group never fans out."""
    part = load_table(spark, sf_dir, "part")
    bucket = F.when(
        F.col("p_brand").startswith("Brand#1"), F.col("p_brand")
    ).otherwise(F.lit(None))
    left = part.groupBy(bucket.alias("brand_bucket")).agg(
        F.count("*").alias("n_all")
    )
    right = (
        part.where(F.col("p_size") <= _NS_SMALL)
        .groupBy(bucket.alias("bb"))
        .agg(F.count("*").alias("n_small"))
    )
    return (
        left.join(right, left.brand_bucket.eqNullSafe(right.bb))
        .select(
            "brand_bucket",
            F.col("n_all").cast("bigint").alias("n_all"),
            F.col("n_small").cast("bigint").alias("n_small"),
            F.expr("n_small * 1000000 DIV n_all").alias("small_share_ppm"),
        )
        .orderBy(F.col("brand_bucket").asc_nulls_first())
    )


_NS_DUCK = f"""
WITH b AS (
  SELECT CASE WHEN p_brand LIKE 'Brand#1%' THEN p_brand END AS brand_bucket,
         p_size
  FROM part
), l AS (
  SELECT brand_bucket, COUNT(*) AS n_all FROM b GROUP BY brand_bucket
), r AS (
  SELECT brand_bucket AS bb, COUNT(*) AS n_small FROM b
  WHERE p_size <= {_NS_SMALL} GROUP BY brand_bucket
)
SELECT l.brand_bucket,
       CAST(l.n_all AS BIGINT) AS n_all,
       CAST(r.n_small AS BIGINT) AS n_small,
       CAST(r.n_small * 1000000 // l.n_all AS BIGINT) AS small_share_ppm
FROM l JOIN r ON l.brand_bucket IS NOT DISTINCT FROM r.bb
ORDER BY l.brand_bucket NULLS FIRST
"""


QUERIES = {
    "join_left_order_counts": join_left_order_counts,
    "join_semi_active_customers": join_semi_active_customers,
    "join_anti_dormant_customers": join_anti_dormant_customers,
    "join_range_value_buckets": join_range_value_buckets,
    "join_asof_purchase_last_view": join_asof_purchase_last_view,
    "join_full_outer_nation_presence": join_full_outer_nation_presence,
    "join_salted_revenue": join_salted_revenue,
    "join_bloom_prefilter": join_bloom_prefilter,
    "join_interval_overlap": join_interval_overlap,
    "join_spatial_grid": join_spatial_grid,
    "join_point_in_time": join_point_in_time,
    "join_hybrid_skew_split": join_hybrid_skew_split,
    "join_hybrid_skew_sampled": join_hybrid_skew_sampled,
    "join_asof_nearest": join_asof_nearest,
    "join_asof_cogrouped": join_asof_cogrouped,
    "join_null_safe": join_null_safe,
}

ORACLE = {
    "join_left_order_counts": _JOIN_LEFT_SQL,
    "join_semi_active_customers": _JOIN_SEMI_SQL,
    "join_anti_dormant_customers": _JOIN_ANTI_SQL,
    "join_range_value_buckets": _JOIN_RANGE_SQL,
    "join_asof_purchase_last_view": _JOIN_ASOF_SQL,
    "join_full_outer_nation_presence": _FULL_OUTER_SQL,
    "join_salted_revenue": _SALTED_SQL,
    "join_bloom_prefilter": _BLOOM_SQL,
    "join_interval_overlap": _INTERVAL_SQL,
    "join_spatial_grid": _SPATIAL_SQL,
    "join_point_in_time": _PIT_SQL,
    "join_hybrid_skew_split": _HYBRID_SQL,
    # split-invariance: ANY hot set yields the plain join's result, so
    # the sampled variant shares the exact variant's oracle verbatim
    "join_hybrid_skew_sampled": _HYBRID_SQL,
    "join_asof_nearest": _NEAREST_DUCK,
    "join_asof_cogrouped": _ASOF_COG_SQL,
    "join_null_safe": _NS_DUCK,
}
