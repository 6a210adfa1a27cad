"""Window-function analytics: rankings, running and rolling frames,
technical indicators, gaps and islands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import cents
from ..operators.library import running_distinct
from ..sources.readers import load_table
from . import contract
from .contract import (
    money_domain,
    money_domain_sql,
    money_rounded_sql,
    tpch_date_valid_sql,
)
from .tpch import _fmt_day
from . import bind_sql


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


_WINDOW_TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
)
WHERE rk <= 3
"""


def window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend. Bounded cents + business-date
    validity (round-10 layer 2): a NULL order date has no position in
    the customer's timeline (engine NULL ordering differs), and
    unbounded cents let a castable absurd value wrap Spark's running
    SUM where DuckDB widens."""
    orders = load_table(spark, sf_dir, "orders").where(
        contract.tpch_date_valid("o_orderdate")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _fmt_day("o_orderdate").alias("o_orderdate"),
        (
            F.sum(contract.money_rounded("o_totalprice")).over(w) / 100.0
        ).alias("running_spend"),
    )


_WINDOW_RUNNING_SQL = f"""
SELECT
  o_custkey, o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  CAST(SUM({contract.money_rounded_sql('o_totalprice')}) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE) / 100.0 AS running_spend
FROM orders
WHERE {contract.tpch_date_valid_sql('o_orderdate')}
"""


def window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), prev).alias("days_since_prev"),
        F.datediff(nxt, F.col("o_orderdate")).alias("days_until_next"),
    )


_WINDOW_GAPS_SQL = """
SELECT
  o_custkey, o_orderkey,
  date_diff('day',
            LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
            o_orderdate) AS days_since_prev,
  date_diff('day',
            o_orderdate,
            LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) AS days_until_next
FROM orders
"""


def window_ntile_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level money domain on the ordering column (round-10 layer
    2): NULL/NaN balances place differently in the two engines'
    window sort — a corrupt balance has no quartile."""
    cust = load_table(spark, sf_dir, "customer").where(
        contract.money_domain("c_acctbal")
    )
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.withColumn("quartile", F.ntile(4).over(w).cast("bigint"))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
    )


_WINDOW_NTILE_SQL = f"""
SELECT c_mktsegment, quartile,
       COUNT(*) AS n_customers,
       MIN(c_acctbal) AS min_bal,
       MAX(c_acctbal) AS max_bal
FROM (
  SELECT c_mktsegment, c_acctbal,
         NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
  WHERE {contract.money_domain_sql('c_acctbal')}
)
GROUP BY c_mktsegment, quartile
"""


def window_rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (F.sum(cents(F.col("l_quantity"))) / 100.0).alias("total_qty")
    )
    w = Window.orderBy(F.desc("total_qty"), F.asc("l_partkey"))
    return (
        per_part.select(
            "l_partkey",
            "total_qty",
            F.rank().over(w).cast("bigint").alias("qty_rank"),
            F.dense_rank().over(w).cast("bigint").alias("qty_dense_rank"),
        )
        .where(F.col("qty_rank") <= 25)
    )


_WINDOW_RANK_SQL = """
SELECT l_partkey, total_qty, qty_rank, qty_dense_rank
FROM (
  SELECT l_partkey, total_qty,
         RANK() OVER (ORDER BY total_qty DESC, l_partkey ASC) AS qty_rank,
         DENSE_RANK() OVER (ORDER BY total_qty DESC, l_partkey ASC) AS qty_dense_rank
  FROM (
    SELECT l_partkey,
           CAST(SUM(TRY_CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_qty
    FROM lineitem GROUP BY l_partkey
  )
)
WHERE qty_rank <= 25
"""


# ---------------------------------------------------------------------------
# Analytic window functions: percent_rank / cume_dist / first / last
# ---------------------------------------------------------------------------

def window_analytic_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level money domain on the ordering column (round-10 layer
    2): NULL and NaN balances place differently in the two engines'
    window sort, so a corrupt balance has no rank at all."""
    cust = load_table(spark, sf_dir, "customer").where(
        money_domain("c_acctbal")
    )
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("c_custkey").over(wf).alias("poorest_custkey"),
        F.last("c_custkey").over(wf).alias("richest_custkey"),
    )


_ANALYTIC_SQL = f"""
SELECT c_mktsegment, c_custkey, c_acctbal,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume,
       FIRST_VALUE(c_custkey) OVER wf AS poorest_custkey,
       LAST_VALUE(c_custkey) OVER wf AS richest_custkey
FROM customer
WHERE {money_domain_sql('c_acctbal')}
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey),
       wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------------------
# RANGE-frame window: rolling 24h event value per user (event-time range,
# not row count — the frame every billing/rate-limit pipeline needs)
# ---------------------------------------------------------------------------

def window_rolling_24h_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    day_us = 24 * 3600 * 1_000_000
    base = events.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        cents(F.col("value")).alias("v_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-day_us, Window.currentRow)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count("*").over(w).alias("n_24h"),
        (F.sum("v_cents").over(w) / 100.0).alias("value_24h"),
    )


_ROLLING_SQL = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       COUNT(*) OVER w AS n_24h,
       CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100.0 AS value_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# LOCF gap-fill (last observation carried forward)
# ---------------------------------------------------------------------------

def window_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: clicks carry no amount in this shape
    (their value is masked to NULL), and each event's ``filled``
    value is the last non-null observation in the user's stream —
    ``last(..., ignorenulls)`` over an ordered per-user window. One
    shuffle on user_id; the frame is running, so state per row is a
    single value regardless of stream length."""
    # NULL ts meets opposite engine NULL-ordering defaults in the
    # running frame — dropped symmetrically with the oracle.
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())

    masked = ev.select(
        "event_id",
        "user_id",
        F.col("ts").alias("ts_us"),
        F.when(F.col("event_type") != "click", F.col("value")).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return masked.select(
        "event_id",
        "user_id",
        F.col("v").isNull().alias("was_gap"),
        F.last("v", ignorenulls=True).over(w).alias("filled"),
    )


_LOCF_SQL = """
SELECT event_id, user_id,
       v IS NULL AS was_gap,
       LAST_VALUE(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts_us, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM (
  -- epoch_us, not epoch_ns: Spark orders by its micro-truncated
  -- timestamp, so the oracle must collapse sub-microsecond ties the
  -- same way (event_id then breaks them identically in both engines)
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CASE WHEN event_type != 'click' THEN value END AS v
  FROM events
  WHERE ts IS NOT NULL
)
"""


# ---------------------------------------------------------------------------
# Distribution window functions
# ---------------------------------------------------------------------------


#   * distribution window functions (percent_rank / cume_dist),
#
# Determinism posture: every fraction is scaled to integer ppm with
# ``floor(x * 1e6 + 0.5)`` (exact IEEE ops, no engine ROUND
# tie-breaking), money goes through integer cents, and every window
# order has a unique tiebreak key.
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of customer balance within market
    segment. Both are rank arithmetic over one hash-partitioned sort
    (segments are parallel across executors); the order key includes
    c_custkey so ties can't reorder between engines. Row-level money
    domain (round-10 layer 2): NULL/NaN balances place differently in
    the two engines' window sort — a corrupt balance has no rank."""
    cust = load_table(spark, sf_dir, "customer").where(
        money_domain("c_acctbal")
    )
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        cents(F.col("c_acctbal")).alias("acctbal_cents"),
        F.floor(F.percent_rank().over(w) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("pr_ppm"),
        F.floor(F.cume_dist().over(w) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("cd_ppm"),
    )


_PERCENT_RANK_SQL = f"""
SELECT c_custkey,
       c_mktsegment,
       TRY_CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
       CAST(FLOOR(percent_rank() OVER w * 1000000 + 0.5) AS BIGINT) AS pr_ppm,
       CAST(FLOOR(cume_dist() OVER w * 1000000 + 0.5) AS BIGINT) AS cd_ppm
FROM customer
WHERE {money_domain_sql('c_acctbal')}
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


# ---------------------------------------------------------------------------
# Gaps and islands: consecutive-day activity streaks
# ---------------------------------------------------------------------------


#   * gaps-and-islands (consecutive-day activity streaks),
def gaps_islands_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-day activity islands via the classic
    date-minus-row_number grouping key. Work is partitioned by user
    (distinct + two shuffles on user_id); nothing global. Emits one row
    per island with start/end/length."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "grp", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    return (
        grp.groupBy("user_id", "grp")
        .agg(
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("streak_start"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("streak_end"),
            F.count("*").alias("streak_days"),
        )
        .drop("grp")
    )


_GAPS_ISLANDS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), grp AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS g
  FROM days
)
SELECT user_id,
       strftime(MIN(day), '%Y-%m-%d') AS streak_start,
       strftime(MAX(day), '%Y-%m-%d') AS streak_end,
       COUNT(*) AS streak_days
FROM grp
GROUP BY user_id, g
"""


# ---------------------------------------------------------------------------
# Running distinct count per user
# ---------------------------------------------------------------------------


#   * ``window_running_distinct`` — running COUNT(DISTINCT) per user
#     over event time. Spark windows don't support DISTINCT frames;
#     the standard decomposition is first-occurrence flag (row_number
#     per (user, type) == 1) + running sum — two narrow window passes
#     over one user-key exchange.
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: how many DISTINCT event types this user has produced
    up to and including this event. count(distinct) is not a window
    aggregate in Spark (nor most engines); the associative
    decomposition — flag each (user, type)'s first occurrence, then
    running-sum the flags — needs one exchange on user_id and two
    codegen'd window passes."""
    # NULL ts meets opposite engine NULL-ordering defaults in the
    # running frame — dropped symmetrically with the oracle.
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return running_distinct(
        ev.select("user_id", "event_id", "event_type",
                  F.unix_micros("ts").alias("ts_us")),
        partition_by="user_id",
        distinct_col="event_type",
        order_by=["ts_us", "event_id"],
        out_col="n_distinct_types",
    ).select("user_id", "event_id", "ts_us", "n_distinct_types")


_RUNNING_DISTINCT_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY user_id, event_type
                ORDER BY epoch_us(ts), event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
  WHERE ts IS NOT NULL
)
SELECT user_id, event_id, ts_us,
       CAST(SUM(first_seen) OVER (
         PARTITION BY user_id ORDER BY ts_us, event_id
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_distinct_types
FROM flagged
"""


# ---------------------------------------------------------------------------
# Shift-exact EWMA
# ---------------------------------------------------------------------------

_EWMA_SPARK = f"""
WITH seq AS (
  SELECT o_custkey,
         {money_rounded_sql('o_totalprice')} * 1000 AS m,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n
  FROM {{orders}} WHERE {tpch_date_valid_sql('o_orderdate')}
), terms AS (
  SELECT o_custkey, n,
         CASE WHEN (CASE WHEN rn = 1 THEN n - 1 ELSE n - rn + 1 END) > 62
              THEN CAST(0 AS BIGINT)
              ELSE shiftright(m, CAST(CASE WHEN rn = 1 THEN n - 1
                                           ELSE n - rn + 1 END AS INT))
         END AS term
  FROM seq
)
SELECT o_custkey,
       CAST(max(n) AS BIGINT) AS n_orders,
       CAST(SUM(term) AS BIGINT) AS ewma_milli_cents
FROM terms
GROUP BY o_custkey
"""


_EWMA_DUCK = f"""
WITH seq AS (
  SELECT o_custkey,
         {money_rounded_sql('o_totalprice')} * 1000 AS m,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n
  FROM orders WHERE {tpch_date_valid_sql('o_orderdate')}
), terms AS (
  SELECT o_custkey, n,
         CASE WHEN (CASE WHEN rn = 1 THEN n - 1 ELSE n - rn + 1 END) > 62
              THEN CAST(0 AS BIGINT)
              ELSE m >> CAST(CASE WHEN rn = 1 THEN n - 1
                                  ELSE n - rn + 1 END AS INT)
         END AS term
  FROM seq
)
SELECT o_custkey,
       CAST(max(n) AS BIGINT) AS n_orders,
       CAST(SUM(term) AS BIGINT) AS ewma_milli_cents
FROM terms
GROUP BY o_custkey
"""


#   * ``window_ewma_spend`` — exponentially-weighted moving average of
#     per-customer order values, alpha = 1/2, computed with BIT SHIFTS:
#     the (1/2)^k weights make every term an exact integer
#     (``cents*1000 >> k``), so the EWMA is order-independent and
#     engine-exact — no ``pow()``, whose 1-ulp licence would break
#     oracle parity at the floor boundary. One window over the
#     customer exchange, then a re-aggregate on the same key.
def window_ewma_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer EWMA (alpha = 1/2) of order totals in date order.
    The alpha choice makes every weight a power of two, so each term
    is an exact ``>> k`` of milli-cents and the sum is associative —
    the only way a windowed EWMA survives an order-insensitive exact
    compare. One exchange on o_custkey serves both the window and the
    final groupBy (same key: Catalyst reuses the partitioning)."""
    return bind_sql(
        spark, _EWMA_SPARK, orders=load_table(spark, sf_dir, "orders")
    )


# ---------------------------------------------------------------------------
# Rolling regression
# ---------------------------------------------------------------------------

_ROLLREG_SPARK = """
WITH daily AS (
  SELECT event_type,
         CAST(datediff(CAST(date_trunc('day', ts) AS DATE),
                       DATE '1970-01-01') AS BIGINT) AS x,
         CAST(SUM(TRY_CAST(round((CASE WHEN value BETWEEN -1.0e12 AND 1.0e12
                          THEN value END) * 100) AS BIGINT)) AS BIGINT) AS y
  FROM {events}
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
), sums AS (
  SELECT event_type, x, y,
         COUNT(*) OVER w AS n,
         SUM(x) OVER w AS sx,
         SUM(y) OVER w AS sy,
         SUM(x * x) OVER w AS sxx,
         SUM(x * y) OVER w AS sxy
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY x
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       x AS epoch_day,
       y AS day_cents,
       CASE WHEN n = 7 AND n * sxx - sx * sx > 0
            THEN CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                            / CAST(n * sxx - sx * sx AS DOUBLE) * 1000)
                 AS BIGINT)
            ELSE NULL END AS slope_milli_cents_per_day
FROM sums
"""


_ROLLREG_DUCK = """
WITH daily AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS x,
         CAST(SUM(TRY_CAST(round((CASE WHEN value BETWEEN -1.0e12 AND 1.0e12
                          THEN value END) * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
), sums AS (
  SELECT event_type, x, y,
         COUNT(*) OVER w AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY x
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       x AS epoch_day,
       y AS day_cents,
       CASE WHEN n = 7 AND n * sxx - sx * sx > 0
            THEN CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                            / CAST(n * sxx - sx * sx AS DOUBLE) * 1000)
                 AS BIGINT)
            ELSE NULL END AS slope_milli_cents_per_day
FROM sums
"""


#   * ``window_rolling_regression`` — per event-type rolling 7-day OLS
#     slope of daily value over time (epoch-day x-axis). The five
#     power sums live in ONE window frame (ROWS 6 PRECEDING), all
#     integer; each row's slope is one double division. This is the
#     trend-detection primitive: at 100 TB the daily rollup bounds the
#     window input to (types x days) rows regardless of event volume.
def window_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS slope of daily purchase volume per event
    type. Daily rollup bounds the window input to (types x days)
    rows; the five power sums share one frame on one event_type
    exchange; slope is a single guarded double division per row.

    Out-of-domain values (|value| > contract.VALUE_DOMAIN_DOLLARS)
    contribute like NULL — value-level, so hostile rows still create
    their day — keeping the x*y / sy*sx power-sum products exact
    INT64 in both engines (DuckDB throws on overflow, Spark wraps)."""
    return bind_sql(
        spark, _ROLLREG_SPARK, events=load_table(spark, sf_dir, "events")
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP)
# ---------------------------------------------------------------------------

_TWAP_CORE = """
WITH e AS (
  SELECT user_id, event_id,
         {epoch_us} AS ts_us,
         TRY_CAST(round(value * 100) AS BIGINT) AS cents
  FROM {events}
  WHERE value IS NOT NULL  -- scan-pushdown half of the predicate
    AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
), d AS (
  SELECT user_id, cents,
         LEAD(ts_us) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) - ts_us AS dt_us
  FROM e
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dt_us) AS BIGINT) AS total_dt_us,
       CAST(SUM(CAST(cents AS {big}) * dt_us)
            {div} SUM(CAST(dt_us AS {big})) AS BIGINT) AS twap_cents
FROM d
WHERE dt_us IS NOT NULL AND dt_us > 0
GROUP BY user_id
"""


#   * ``window_time_weighted_avg`` — per-user time-weighted average
#     event value (TWAP): each value weighted by the microseconds until
#     the user's next event. One user_id exchange carries both the LEAD
#     window and the final aggregate; weights and values stay integer
#     (micros x cents in DECIMAL(38,0)).
def window_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average event value: each value holds
    until the user's next event, so it is weighted by that interval's
    microseconds (the market-data TWAP shape; the final open-ended
    value is excluded, zero-length intervals carry no weight). The
    LEAD window and the per-user aggregate share ONE user_id
    exchange; the weighted sum accumulates in DECIMAL(38,0) —
    micros x cents products exceed int64 within a single busy day."""
    return bind_sql(
        spark,
        _TWAP_CORE,
        events=load_table(spark, sf_dir, "events"),
        epoch_us="unix_micros(ts)",
        big="DECIMAL(38,0)",
        div="DIV",
    )


_TWAP_DUCK = _TWAP_CORE.format(
    events="events", epoch_us="epoch_us(ts)", big="HUGEINT", div="//"
)


# ---------------------------------------------------------------------------
# CUSUM changepoint scan
# ---------------------------------------------------------------------------

_CUSUM_CORE = """
WITH daily AS (
  SELECT event_type, CAST({epoch_day} AS BIGINT) AS d, COUNT(*) AS x
  FROM {events}
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type, {epoch_day}
), seq AS (
  SELECT event_type, d, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t,
         SUM(x) OVER (PARTITION BY event_type ORDER BY d
                      ROWS UNBOUNDED PRECEDING) AS prefix,
         SUM(x) OVER (PARTITION BY event_type) AS total,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
), c AS (
  SELECT event_type, d, n,
         n * prefix - t * total AS cusum_n
  FROM seq
), best AS (
  SELECT event_type, d, n, cusum_n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY abs(cusum_n) DESC, d) AS rk
  FROM c
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(d AS BIGINT) AS changepoint_day,
       CAST(abs(cusum_n) AS BIGINT) AS max_abs_cusum_n,
       CAST(abs(cusum_n) * 1000 {div} n AS BIGINT) AS deviation_milli
FROM best WHERE rk = 1
"""


#   * ``window_cusum_changepoint`` — CUSUM changepoint scan over each
#     event type's daily volume: C_t = n·prefix_t − t·total stays in
#     exact integers (no running mean), and the maximum |C_t| and its
#     argmax day locate the level shift. Window work is bounded by
#     (types × days) rows regardless of event volume.
def window_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest CUSUM excursion of each event type's daily volume and
    the day it peaks — the classic level-shift locator. The statistic
    n·prefix_t − t·total is algebraically n·Σ(x_i − mean) kept in
    exact integers, so argmax ties and magnitudes are identical on
    every engine and parallelism; all windows ride one event_type
    exchange over the bounded daily rollup."""
    return bind_sql(
        spark,
        _CUSUM_CORE,
        events=load_table(spark, sf_dir, "events"),
        epoch_day="CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)",
        div="DIV",
    )


_CUSUM_DUCK = _CUSUM_CORE.format(
    events="events",
    epoch_day="CAST(epoch_us(ts) // 86400000000 AS BIGINT)",
    div="//",
)


# ---------------------------------------------------------------------------
# Maximum drawdown
# ---------------------------------------------------------------------------

_DD_TOPK = 20


_DD_CORE = f"""
WITH e AS (
  SELECT user_id, event_id, {{epoch_us}} AS us,
         TRY_CAST(round(value * 100) AS BIGINT) AS cents
  FROM {{events}}
  WHERE value IS NOT NULL  -- scan-pushdown half of the predicate
    AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
), c0 AS (
  SELECT user_id, us, event_id,
         SUM(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM e
), c AS (
  SELECT user_id, cum,
         MAX(cum) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS peak
  FROM c0
), dd AS (
  SELECT user_id, MAX(peak - cum) AS max_drawdown_cents,
         COUNT(*) AS n_events
  FROM c GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(max_drawdown_cents AS BIGINT) AS max_drawdown_cents
FROM dd
ORDER BY max_drawdown_cents DESC, user_id
LIMIT {_DD_TOPK}
"""


#   * ``window_max_drawdown`` — per-user maximum drawdown of the
#     cumulative event-value series (largest peak-to-trough drop), the
#     canonical running-max-minus-running-sum window pair on ONE
#     user_id exchange, all integer cents; the global top-20 riders
#     take TakeOrderedAndProject.
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_DD_TOPK} users by maximum drawdown of their cumulative
    event-value series. Cumulative sum, running max of it, and the
    per-user reduction all share one user_id exchange; values stay
    integer cents end to end, and the global top-k is a
    TakeOrderedAndProject, never a full sort."""
    return bind_sql(
        spark,
        _DD_CORE,
        events=load_table(spark, sf_dir, "events"),
        epoch_us="unix_micros(ts)",
    )


_DD_DUCK = _DD_CORE.format(events="events", epoch_us="epoch_us(ts)")


# ---------------------------------------------------------------------------
# Hampel filter: rolling-median / rolling-MAD outlier detection
# ---------------------------------------------------------------------------

# Exact 5-point medians as explicit sorted arrays: both engines sort
# five bigints and take the middle — no percentile/median window
# function needed (Spark lacks an exact one), no floats anywhere.
_H_SPARK_MED = "element_at(array_sort(array({a}, {b}, {c}, {d}, {e})), 3)"


_H_DUCK_MED = "list_sort([{a}, {b}, {c}, {d}, {e}])[3]"


_HAMPEL_CORE = """
WITH e AS (
  SELECT user_id, event_id, {epoch_us} AS us,
         TRY_CAST(round(value * 100) AS BIGINT) AS cents
  FROM {events}
  WHERE value IS NOT NULL  -- scan-pushdown half of the predicate
    AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
), w AS (
  SELECT user_id, us, event_id, cents,
         LAG(cents, 2)  OVER win AS l2,
         LAG(cents, 1)  OVER win AS l1,
         LEAD(cents, 1) OVER win AS d1,
         LEAD(cents, 2) OVER win AS d2
  FROM e
  WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id)
), m AS (
  SELECT user_id, cents, l2, l1, d1, d2, {med} AS med
  FROM w
  WHERE l2 IS NOT NULL AND d2 IS NOT NULL
), h AS (
  SELECT user_id, cents, med, {mad} AS mad
  FROM m
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_interior,
       CAST(SUM(CASE WHEN abs(cents - med) > 3 * mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(MAX(abs(cents - med)) AS BIGINT) AS max_dev_cents
FROM h
GROUP BY user_id
ORDER BY user_id
"""


def _hampel_sql(med5: str, epoch_us: str, events: str) -> str:
    med = med5.format(a="l2", b="l1", c="cents", d="d1", e="d2")
    mad = med5.format(
        a="abs(l2 - med)", b="abs(l1 - med)", c="abs(cents - med)",
        d="abs(d1 - med)", e="abs(d2 - med)",
    )
    return _HAMPEL_CORE.format(
        med=med, mad=mad, epoch_us=epoch_us, events=events
    )


#   * ``window_hampel_outliers`` — Hampel filter over each user's
#     event-value series: centered 5-point rolling median and rolling
#     MAD built from explicit lead/lag arrays (exact integer cents —
#     median of 5 ints is the sorted middle, no floats anywhere), flag
#     |x - med| > 3 * MAD, report per-user interior/outlier counts and
#     the largest deviation.
def window_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Hampel filter over the event-value series: centered
    5-point rolling median and rolling MAD from lead/lag arrays (one
    user_id exchange shared by all four offsets), outlier when
    |x - med| > 3 * MAD. All arithmetic is integer cents — the median
    of five bigints is the sorted middle element, so Spark and DuckDB
    agree exactly. Interior points only (both lags and both leads
    present); the per-user reduction rides the same exchange."""
    return bind_sql(
        spark,
        _hampel_sql(_H_SPARK_MED, "unix_micros(ts)", "{events}"),
        events=load_table(spark, sf_dir, "events"),
    )


_HAMPEL_DUCK = _hampel_sql(_H_DUCK_MED, "epoch_us(ts)", "events")


# ---------------------------------------------------------------------------
# Bollinger bands
# ---------------------------------------------------------------------------

_BOLL_WIN = 7  # trailing days, ROWS frame


_BOLL_CORE = f"""
WITH daily AS (
  -- bounded cents + business-date validity (round-10 layer 2): a
  -- NULL date has no position on the day axis (engine NULL ordering
  -- differs, shifting every ROWS frame), and unbounded cents let a
  -- castable absurd value wrap Spark's SUM where DuckDB widens
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM({money_rounded_sql('o_totalprice')}) AS x
  FROM {{orders}} WHERE {tpch_date_valid_sql('o_orderdate')}
  GROUP BY CAST(o_orderdate AS DATE)
), w AS (
  SELECT d, x,
         COUNT(*) OVER win AS n,
         SUM(x) OVER win AS s1,
         SUM(CAST(x AS DECIMAL(38,0)) * x) OVER win AS s2
  FROM daily
  WINDOW win AS (ORDER BY d ROWS BETWEEN {_BOLL_WIN - 1} PRECEDING
                 AND CURRENT ROW)
), bands AS (
  SELECT d, x, n, s1 {{idiv}} n AS mean_cents,
         CAST(floor(sqrt((CAST(s2 AS DOUBLE) * n
                          - CAST(s1 AS DOUBLE) * s1)
                         / (CAST(n AS DOUBLE) * n))) AS BIGINT) AS sd_cents
  FROM w WHERE n = {_BOLL_WIN}
)
SELECT CAST(d AS {{datestr}}) AS day,
       CAST(x AS BIGINT) AS revenue_cents,
       CAST(mean_cents AS BIGINT) AS mean_cents,
       sd_cents,
       CAST(mean_cents + 2 * sd_cents AS BIGINT) AS upper_cents,
       CAST(mean_cents - 2 * sd_cents AS BIGINT) AS lower_cents,
       CAST(CASE WHEN x > mean_cents + 2 * sd_cents THEN 1
                 WHEN x < mean_cents - 2 * sd_cents THEN -1
                 ELSE 0 END AS BIGINT) AS outside_band
FROM bands
ORDER BY day
"""


#   * ``window_bollinger_bands`` — 7-day rolling mean ± 2σ bands over
#     the daily order-revenue series with outside-band flags.  The
#     rolling power sums are exact integers (window frame sums); only
#     σ is one fixed-shape float per row.
def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing Bollinger bands over daily order revenue:
    rolling mean and population σ from exact integer frame sums
    (DECIMAL for the squares), bands at ±2σ, and a -1/0/+1
    outside-band flag per day.  The daily relation is bounded by the
    date span (~2.4k rows at any TPC-H scale), so the single-
    partition ordered window is bounded state, and the heavy
    aggregation below it is one map-combined date groupBy."""
    return bind_sql(
        spark,
        _BOLL_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        idiv="DIV",
        datestr="STRING",
    )


_BOLL_DUCK = _BOLL_CORE.format(orders="orders", idiv="//", datestr="VARCHAR")


# ---------------------------------------------------------------------------
# RSI
# ---------------------------------------------------------------------------

_RSI_W = 14


_RSI_CORE = f"""
WITH daily AS (
  -- bounded cents + business-date validity (round-10 layer 2, same
  -- rationale as window_bollinger_bands)
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM({money_rounded_sql('o_totalprice')}) AS x
  FROM {{orders}} WHERE {tpch_date_valid_sql('o_orderdate')}
  GROUP BY CAST(o_orderdate AS DATE)
), diffs AS (
  SELECT d, x, x - LAG(x) OVER (ORDER BY d) AS dx
  FROM daily
), gl AS (
  SELECT d, x,
         CASE WHEN dx > 0 THEN dx ELSE 0 END AS gain,
         CASE WHEN dx < 0 THEN -dx ELSE 0 END AS loss,
         ROW_NUMBER() OVER (ORDER BY d) AS rn
  FROM diffs WHERE dx IS NOT NULL
), w AS (
  SELECT d, x, rn,
         SUM(gain) OVER win AS sg,
         SUM(loss) OVER win AS sl
  FROM gl
  WINDOW win AS (ORDER BY rn ROWS BETWEEN {_RSI_W - 1} PRECEDING
                 AND CURRENT ROW)
)
SELECT CAST(d AS {{datestr}}) AS day,
       CAST(x AS BIGINT) AS revenue_cents,
       CAST(sg AS BIGINT) AS gain_sum_cents,
       CAST(sl AS BIGINT) AS loss_sum_cents,
       CAST(CASE WHEN sg + sl > 0
                 THEN 100000 * sg {{idiv}} (sg + sl)
                 ELSE 50000 END AS BIGINT) AS rsi_milli
FROM w WHERE rn >= {_RSI_W}
ORDER BY day
"""


#   * ``window_rsi_14`` — the 14-day relative strength index over
#     daily order revenue.  With equal-length gain/loss windows the
#     averages cancel, so RSI = 100·Σgain/(Σgain+Σloss) is PURE
#     integer arithmetic — no float smoothing at all.
def window_rsi_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI over daily order revenue: because the gain and
    loss windows have identical length, the Wilder averages cancel
    and RSI = 100·Σgain/(Σgain+Σloss) — entirely exact integer
    arithmetic (milli units; a flat 14-day window reports the
    neutral 50).  The daily relation is date-span-bounded, so the
    ordered windows run over bounded state after one map-combined
    date groupBy."""
    return bind_sql(
        spark,
        _RSI_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        idiv="DIV",
        datestr="STRING",
    )


_RSI_DUCK = _RSI_CORE.format(orders="orders", idiv="//", datestr="VARCHAR")


# ---------------------------------------------------------------------------
# Ulcer index
# ---------------------------------------------------------------------------

_ULCER_CORE = """
WITH daily AS (
  -- bounded cents + business-date validity (round-10 layer 2, same
  -- rationale as window_bollinger_bands)
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(""" + money_rounded_sql("o_totalprice") + """) AS x
  FROM {orders} WHERE """ + tpch_date_valid_sql("o_orderdate") + """
  GROUP BY CAST(o_orderdate AS DATE)
), peaks AS (
  SELECT d, x, MAX(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS pk
  FROM daily
), dd AS (
  SELECT (pk - x) * 1000000 {idiv} pk AS dd_micro FROM peaks
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(dd_micro) AS BIGINT) AS max_drawdown_micro,
       CAST(SUM(CASE WHEN dd_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_days_underwater,
       CAST(floor(sqrt(CAST(SUM(CAST(dd_micro AS DECIMAL(38,0))
                                * dd_micro) AS DOUBLE)
                       / COUNT(*))) AS BIGINT) AS ulcer_index_micro
FROM dd
"""


#   * ``window_ulcer_index`` — Peter Martin's ulcer index (RMS of
#     running-peak drawdown percentages) over daily revenue: the
#     downside-risk complement to `window_max_drawdown`, with every
#     per-day drawdown an exact integer micro share.
def window_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index of daily revenue — the RMS of running-peak
    drawdown shares, the downside-risk measure that punishes DEPTH
    × DURATION where `window_max_drawdown` reports only the single
    worst dip.  Every per-day drawdown is an exact integer micro
    share ((peak−x)·1e6 DIV peak); the RMS is one fixed-shape float
    over the exact integer square sum.  One running-max window over
    the date-span-bounded daily relation."""
    return bind_sql(
        spark,
        _ULCER_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        idiv="DIV",
    )


_ULCER_DUCK = _ULCER_CORE.format(orders="orders", idiv="//")


QUERIES = {
    "window_topk_orders_per_customer": window_topk_orders_per_customer,
    "window_running_spend": window_running_spend,
    "window_order_gaps": window_order_gaps,
    "window_ntile_acctbal": window_ntile_acctbal,
    "window_rank_dense_rank": window_rank_dense_rank,
    "window_rolling_24h_value": window_rolling_24h_value,
    "window_analytic_acctbal": window_analytic_acctbal,
    "window_locf_fill": window_locf_fill,
    "window_percent_rank_cume": window_percent_rank_cume,
    "gaps_islands_user_streaks": gaps_islands_user_streaks,
    "window_running_distinct": window_running_distinct,
    "window_ewma_spend": window_ewma_spend,
    "window_rolling_regression": window_rolling_regression,
    "window_time_weighted_avg": window_time_weighted_avg,
    "window_cusum_changepoint": window_cusum_changepoint,
    "window_max_drawdown": window_max_drawdown,
    "window_hampel_outliers": window_hampel_outliers,
    "window_bollinger_bands": window_bollinger_bands,
    "window_rsi_14": window_rsi_14,
    "window_ulcer_index": window_ulcer_index,
}

ORACLE = {
    "window_topk_orders_per_customer": _WINDOW_TOPK_SQL,
    "window_running_spend": _WINDOW_RUNNING_SQL,
    "window_order_gaps": _WINDOW_GAPS_SQL,
    "window_ntile_acctbal": _WINDOW_NTILE_SQL,
    "window_rank_dense_rank": _WINDOW_RANK_SQL,
    "window_rolling_24h_value": _ROLLING_SQL,
    "window_analytic_acctbal": _ANALYTIC_SQL,
    "window_locf_fill": _LOCF_SQL,
    "window_percent_rank_cume": _PERCENT_RANK_SQL,
    "gaps_islands_user_streaks": _GAPS_ISLANDS_SQL,
    "window_running_distinct": _RUNNING_DISTINCT_SQL,
    "window_ewma_spend": _EWMA_DUCK,
    "window_rolling_regression": _ROLLREG_DUCK,
    "window_time_weighted_avg": _TWAP_DUCK,
    "window_cusum_changepoint": _CUSUM_DUCK,
    "window_max_drawdown": _DD_DUCK,
    "window_hampel_outliers": _HAMPEL_DUCK,
    "window_bollinger_bands": _BOLL_DUCK,
    "window_rsi_14": _RSI_DUCK,
    "window_ulcer_index": _ULCER_DUCK,
}
