"""Behavioural analytics over the ``events`` table: sessions, funnels,
cohorts, sequences and experiment readouts.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import shared, track_persist
from ..functions.numeric import cents
from ..operators.library import global_prefix_sum, global_rank
from ..sources.readers import load_table


# ---------------------------------------------------------------------------
# Funnel: view -> click -> purchase, strictly ordered per user
# ---------------------------------------------------------------------------

def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.unix_micros("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.unix_micros("ts"))).alias("t_click_any"),
        F.min(F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))).alias("t_buy_any"),
    )
    # stage timestamps must be strictly ordered: first view, then the
    # first click after it, then the first purchase after that — the
    # "first after" is re-derived with conditional mins over a second
    # pass kept as one join (two scans total, no per-user loops)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("tc")
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("tb")
    )
    stage2 = (
        per_user.join(clicks, "user_id", "left")
        .where(F.col("tc") >= F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("tc").alias("t_click"))
    )
    stage3 = (
        stage2.join(buys, "user_id", "left")
        .where(F.col("tb") >= F.col("t_click"))
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("tb").alias("t_buy"))
    )
    funnel = (
        per_user.select("user_id", "t_view")
        .where(F.col("t_view").isNotNull())
        .join(stage2.select("user_id", "t_click"), "user_id", "left")
        .join(stage3.select("user_id", "t_buy"), "user_id", "left")
    )
    return funnel.agg(
        F.count("*").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_buy").alias("n_purchased_after_click"),
    )


_FUNNEL_SQL = """
WITH pu AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view
  FROM events GROUP BY user_id
),
s2 AS (
  SELECT pu.user_id, pu.t_view, MIN(epoch_us(c.ts)) AS t_click
  FROM pu JOIN events c
    ON c.user_id = pu.user_id AND c.event_type = 'click'
   AND epoch_us(c.ts) >= pu.t_view
  GROUP BY pu.user_id, pu.t_view
),
s3 AS (
  SELECT s2.user_id, MIN(epoch_us(b.ts)) AS t_buy
  FROM s2 JOIN events b
    ON b.user_id = s2.user_id AND b.event_type = 'purchase'
   AND epoch_us(b.ts) >= s2.t_click
  GROUP BY s2.user_id
)
SELECT COUNT(*) AS n_viewed,
       COUNT(s2.t_click) AS n_clicked_after_view,
       COUNT(s3.t_buy) AS n_purchased_after_click
FROM pu
LEFT JOIN s2 ON pu.user_id = s2.user_id
LEFT JOIN s3 ON pu.user_id = s3.user_id
WHERE pu.t_view IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Cohort retention: first-order month x activity month
# ---------------------------------------------------------------------------

def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey")
    cohorted = orders.select(
        "o_custkey",
        month.alias("order_month"),
    ).withColumn("cohort_month", F.min("order_month").over(w))
    return (
        cohorted.groupBy("cohort_month", "order_month")
        .agg(
            F.countDistinct("o_custkey").alias("n_active_customers"),
            F.count("*").alias("n_orders"),
        )
        .where(F.col("cohort_month") <= F.lit("1995-06"))
    )


_COHORT_SQL = """
WITH c AS (
  SELECT o_custkey,
         strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
         MIN(strftime(date_trunc('month', o_orderdate), '%Y-%m'))
           OVER (PARTITION BY o_custkey) AS cohort_month
  FROM orders
)
SELECT cohort_month, order_month,
       COUNT(DISTINCT o_custkey) AS n_active_customers,
       COUNT(*) AS n_orders
FROM c
WHERE cohort_month <= '1995-06'
GROUP BY cohort_month, order_month
"""


# Sessions close after 6 idle hours (the fixture's median per-user gap
# is ~7.3h, so this yields a realistic mix of multi-event sessions and
# singletons).
_GAP_US = 6 * 3600 * 1_000_000


# - ``events_sessionize``: gap-based sessionization — assign every event
#   to a session that closes after 6 idle hours, then aggregate each
#   session. The classic formulation (lag → boundary flag → running sum)
#   is a single hash exchange on ``user_id``: the lag window, the
#   session-number window, and the map-side partial of the final
#   aggregate all reuse that one partitioning; only already-aggregated
#   session rows cross the wire a second time. At 100 TB the exchange is
#   bounded by user cardinality, not event count, and skewed users are
#   split by AQE.
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts drives window ORDER BY and user_id the partition key; a NULL
    # in either meets opposite engine defaults (Spark NULLS FIRST asc,
    # DuckDB NULLS LAST) — dropped symmetrically with the oracle.
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.unix_micros("ts").alias("t_us"),
            "event_id",
            cents(F.col("value")).alias("value_cents"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(F.col("t_us") - F.lag("t_us").over(w) > _GAP_US, 1)
        .when(F.lag("t_us").over(w).isNull(), 1)
        .otherwise(0),
    )
    numbered = flagged.withColumn("session_seq", F.sum("new_session").over(w))
    return numbered.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("t_us").alias("t_start_us"),
        F.max("t_us").alias("t_end_us"),
        F.sum("value_cents").alias("value_cents"),
    )


_SESSIONIZE_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t_us, event_id,
         TRY_CAST(ROUND(value * 100) AS BIGINT) AS value_cents
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
flagged AS (
  SELECT *,
         CASE WHEN t_us - LAG(t_us) OVER w > {_GAP_US} THEN 1
              WHEN LAG(t_us) OVER w IS NULL THEN 1
              ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
),
numbered AS (
  SELECT *,
         CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY t_us, event_id) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(t_us) AS t_start_us,
       MAX(t_us) AS t_end_us,
       CAST(SUM(value_cents) AS BIGINT) AS value_cents
FROM numbered
GROUP BY user_id, session_seq
"""


# ---------------------------------------------------------------------------
# Markov transition matrix over event streams
# ---------------------------------------------------------------------------


#   * ``events_markov_transitions`` — event-type transition matrix
#     (lag-pair counts + integer-ppm transition probabilities): the
#     first-order Markov view behind funnel and path analysis.
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition counts and probabilities. One
    shuffle on user_id for the lag window (ties on ts broken by
    event_id in both engines), then a global (prev, next) count —
    map-side combined, 25 output rows. Probabilities are integer ppm
    of each prev-state's outgoing total. The transition relation is
    the session-shared `markov_trans_cached` build (one lag window
    serves this query and the stationary-distribution consumer);
    `tot` there is the same per-prev window sum `__total` was."""

    return markov_trans_cached(spark, sf_dir).select(
        F.col("prev").alias("prev_event"),
        F.col("next").alias("next_event"),
        F.col("c").alias("n_transitions"),
        F.expr("c * 1000000 DIV tot").cast("bigint").alias("prob_ppm"),
    )


_MARKOV_SQL = """
WITH pairs AS (
  SELECT prev_event, event_type AS next_event, COUNT(*) AS n_transitions
  FROM (
    SELECT event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_event
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
      AND event_type IS NOT NULL
  )
  WHERE prev_event IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_event, next_event, n_transitions,
       CAST(n_transitions * 1000000
            // SUM(n_transitions) OVER (PARTITION BY prev_event)
            AS BIGINT) AS prob_ppm
FROM pairs
"""


# ---------------------------------------------------------------------------
# Sequence pattern: strict V-shapes
# ---------------------------------------------------------------------------


#   * ``events_pattern_vshape`` — MATCH_RECOGNIZE-style sequence
#     pattern: per user, count strict V-shapes (down, then up) in the
#     value series — two lags over one user-time window.
def events_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: count strict V-shapes (value drops, then rises) in
    the event-time-ordered value series — the MATCH_RECOGNIZE shape
    expressed as two lags over one user-keyed window. Users with no V
    are absent (inner aggregate), which the oracle mirrors. NULL ts
    rows are dropped symmetrically (round-7 ADVICE): ts is a consumed
    column (window ORDER BY + first_vshape_ts_us) and Spark sorts
    NULLS FIRST where DuckDB sorts NULLS LAST, which would shift lag
    pairs at opposite ends of each user partition."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            cents(F.col("value")).alias("v"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    lagged = ev.withColumn("v1", F.lag("v", 1).over(w)).withColumn(
        "v2", F.lag("v", 2).over(w)
    )
    return (
        lagged.where(
            F.col("v2").isNotNull()
            & (F.col("v1") < F.col("v2"))
            & (F.col("v") > F.col("v1"))
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_vshapes"),
            F.min("ts_us").alias("first_vshape_ts_us"),
        )
    )


_VSHAPE_SQL = """
WITH lagged AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         TRY_CAST(ROUND(value * 100) AS BIGINT) AS v,
         LAG(TRY_CAST(ROUND(value * 100) AS BIGINT), 1) OVER w AS v1,
         LAG(TRY_CAST(ROUND(value * 100) AS BIGINT), 2) OVER w AS v2
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_vshapes,
       MIN(ts_us) AS first_vshape_ts_us
FROM lagged
WHERE v2 IS NOT NULL AND v1 < v2 AND v > v1
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# A/B test lift
# ---------------------------------------------------------------------------

_AB_SPARK = """
WITH users AS (
  SELECT user_id,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM {events}
  GROUP BY user_id
), arms AS (
  SELECT variant,
         COUNT(*) AS n_users,
         SUM(converted) AS n_conv,
         CAST(1000000 * SUM(converted) DIV COUNT(*) AS BIGINT) AS conv_ppm
  FROM users GROUP BY variant
)
SELECT variant,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(n_conv AS BIGINT) AS n_conv,
       conv_ppm,
       CAST(conv_ppm - (SUM(conv_ppm) OVER () - conv_ppm) AS BIGINT)
         AS lift_vs_other_ppm
FROM arms
"""


_AB_DUCK = """
WITH users AS (
  SELECT user_id,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events
  GROUP BY user_id
), arms AS (
  SELECT variant,
         COUNT(*) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_conv,
         CAST(1000000 * SUM(converted) // COUNT(*) AS BIGINT) AS conv_ppm
  FROM users GROUP BY variant
)
SELECT variant,
       CAST(n_users AS BIGINT) AS n_users,
       n_conv,
       conv_ppm,
       CAST(conv_ppm - (SUM(conv_ppm) OVER () - conv_ppm) AS BIGINT)
         AS lift_vs_other_ppm
FROM arms
"""


#   * ``events_ab_test_lift`` — deterministic hash-split A/B readout:
#     per-variant exposed users, converters, conversion ppm and lift
#     vs the other arm. Two aggregates (user grain, then 2-row variant
#     grain) — the distributed experiment-analysis shape.
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-split A/B conversion readout: user grain first (one
    exchange on user_id), then the 2-row variant aggregate and a
    2-row window for the lift column. Deterministic assignment
    (user_id parity) stands in for the production bucketing hash."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r15_ab_events"
    )
    return spark.sql(_AB_SPARK.format(events="r15_ab_events"))


# ---------------------------------------------------------------------------
# Event-rate spike detection
# ---------------------------------------------------------------------------

_SPIKE_SPARK = """
WITH daily AS (
  SELECT event_type,
         date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day,
         COUNT(*) AS n
  FROM {events}
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type, date_format(date_trunc('day', ts), 'yyyy-MM-dd')
), trail AS (
  SELECT event_type, day, n,
         COUNT(n) OVER w AS t_cnt,
         SUM(n) OVER w AS t_sum,
         SUM(n * n) OVER w AS t_sumsq
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, CAST(n AS BIGINT) AS n,
       CASE WHEN t_cnt = 7 AND 7 * t_sumsq - t_sum * t_sum > 0
            THEN CAST(floor(CAST(7 * n - t_sum AS DOUBLE)
                            / sqrt(CAST(7 * t_sumsq - t_sum * t_sum
                                        AS DOUBLE)) * 1000) AS BIGINT)
            ELSE NULL END AS z_milli
FROM trail
"""


_SPIKE_DUCK = """
WITH daily AS (
  SELECT event_type,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         COUNT(*) AS n
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type, strftime(date_trunc('day', ts), '%Y-%m-%d')
), trail AS (
  SELECT event_type, day, n,
         COUNT(n) OVER w AS t_cnt,
         CAST(SUM(n) OVER w AS BIGINT) AS t_sum,
         CAST(SUM(n * n) OVER w AS BIGINT) AS t_sumsq
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, CAST(n AS BIGINT) AS n,
       CASE WHEN t_cnt = 7 AND 7 * t_sumsq - t_sum * t_sum > 0
            THEN CAST(floor(CAST(7 * n - t_sum AS DOUBLE)
                            / sqrt(CAST(7 * t_sumsq - t_sum * t_sum
                                        AS DOUBLE)) * 1000) AS BIGINT)
            ELSE NULL END AS z_milli
FROM trail
"""


#   * ``events_rate_spike_zscore`` — per event-type daily volume
#     z-scored against the trailing 7 observed days (ROWS frame).
#     Variance comes from integer sum/sum-of-squares in the same
#     window, so z = (7n − Σ) / sqrt(7·Σx² − Σ²) is a fixed-shape
#     double expression over exact integers; days without a full
#     trailing week report NULL. One exchange on event_type.
def events_rate_spike_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event volume z-scored against the trailing 7 observed
    days per event type. The daily rollup and the trailing window
    share the event_type exchange; variance is derived from integer
    sum / sum-of-squares inside the same frame, so the z statistic is
    a fixed-shape double expression over exact integers."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r16_spike_events"
    )
    return spark.sql(_SPIKE_SPARK.format(events="r16_spike_events"))


# ---------------------------------------------------------------------------
# User journey paths (top event-type trigrams)
# ---------------------------------------------------------------------------

_JOURNEY_TOPK = 20


_JOURNEY_CORE = f"""
WITH s AS (
  SELECT user_id,
         event_type AS e1,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM {{events}}
  WINDOW w AS (PARTITION BY user_id ORDER BY {{epoch_us}}, event_id)
), p AS (
  SELECT user_id, e1 || '>' || e2 || '>' || e3 AS path
  FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
)
SELECT path,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM p
GROUP BY path
ORDER BY n_occurrences DESC, path
LIMIT {_JOURNEY_TOPK}
"""


#   * ``events_user_journey_paths`` — top 3-step event-type paths
#     (the product-analytics "user journey" rollup): two LEADs on one
#     user_id exchange form the trigrams, a hash aggregate counts
#     occurrences and distinct users per path, and the global top-20
#     rides TakeOrderedAndProject — no full sort at any scale.
def events_user_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top {_JOURNEY_TOPK} 3-step event-type sequences across all user
    timelines. Both LEADs share one user_id window frame (single
    exchange), paths hash-aggregate with map-side combine, and the
    deterministic top-k (count desc, path asc) plans as
    TakeOrderedAndProject — per-partition heaps, never a global
    sort."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r20_journey_events"
    )
    return spark.sql(
        _JOURNEY_CORE.format(
            events="r20_journey_events", epoch_us="unix_micros(ts)"
        )
    )


_JOURNEY_DUCK = _JOURNEY_CORE.format(events="events", epoch_us="epoch_us(ts)")


# ---------------------------------------------------------------------------
# Time to convert (first view -> first subsequent purchase)
# ---------------------------------------------------------------------------


#   * ``events_time_to_convert`` — per-user latency from first view to
#     first subsequent purchase, summarized as conversion counts plus
#     EXACT median seconds via the distributed ``global_rank``
#     primitive (doubled-median contract for even counts) — never a
#     single-partition sort over user latencies.
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user seconds from FIRST view to FIRST purchase at or after
    it, rolled up to the funnel-latency summary: viewers, converters,
    conversion ppm, and the EXACT median latency (reported doubled so
    even-count medians stay integral). The per-user reduction is one
    map-combined conditional aggregate — min view ts, min purchase ts
    after that view — and the median uses the distributed rank
    primitive, so no step sorts all users in one task."""
    from ..operators.library import global_rank

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    # persisted: consumed by the viewer count, the latency join, and
    # (transitively) the rank pass
    per_user = track_persist(
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias(
                "first_view"
            ),
        )
        .where(F.col("first_view").isNotNull())
    )
    # first purchase AT/AFTER the first view needs the purchase stream
    # again (min over a condition on another aggregate): one self-join
    # free pass — re-aggregate with the view time joined back in would
    # shuffle twice; instead compute min purchase >= first_view via a
    # second conditional aggregate over the SAME user_id exchange.
    # persisted: consumed by the converter count AND the rank pass
    lat = track_persist(
        ev.where(F.col("event_type") == "purchase")
        .join(per_user.select("user_id", "first_view"), "user_id")
        .where(F.col("us") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(
            F.expr("CAST((min(us) - min(first_view)) DIV 1000000 AS BIGINT)")
            .alias("delta_s")
        )
    )
    n_viewers = per_user.count()  # bounded scalar
    n_conv = lat.count()  # bounded scalar
    if n_conv == 0:
        return spark.createDataFrame(
            [(n_viewers, 0, 0, None)],
            "n_viewers bigint, n_converters bigint, "
            "conversion_ppm bigint, median_2x_delta_s bigint",
        )
    ranked = global_rank(lat, ["delta_s", "user_id"], rows=n_conv)
    lo, hi = (n_conv + 1) // 2, (n_conv + 2) // 2
    return ranked.where(F.col("rank").isin(lo, hi)).agg(
        F.lit(n_viewers).cast("bigint").alias("n_viewers"),
        F.lit(n_conv).cast("bigint").alias("n_converters"),
        F.lit(n_conv * 1_000_000 // n_viewers)
        .cast("bigint")
        .alias("conversion_ppm"),
        F.sum(F.col("delta_s") * F.lit(2) / F.lit(hi - lo + 1))
        .cast("bigint")
        .alias("median_2x_delta_s"),
    )


_TTC_DUCK = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), pu AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN us END) AS first_view
  FROM ev GROUP BY user_id
  HAVING MIN(CASE WHEN event_type = 'view' THEN us END) IS NOT NULL
), lat AS (
  SELECT e.user_id,
         CAST((MIN(e.us) - MIN(p.first_view)) // 1000000 AS BIGINT)
           AS delta_s
  FROM ev e JOIN pu p ON e.user_id = p.user_id
  WHERE e.event_type = 'purchase' AND e.us >= p.first_view
  GROUP BY e.user_id
), r AS (
  SELECT delta_s,
         ROW_NUMBER() OVER (ORDER BY delta_s, user_id) AS rank,
         COUNT(*) OVER () AS n
  FROM lat
)
SELECT CAST((SELECT COUNT(*) FROM pu) AS BIGINT) AS n_viewers,
       CAST(COALESCE(MAX(n), 0) AS BIGINT) AS n_converters,
       -- zero-converter / zero-viewer coalescing mirrors the plan's
       -- explicit literal row (n_viewers, 0, 0, NULL): without it the
       -- empty aggregate emits NULLs where Spark emits zeros (caught
       -- by the single-row parity net)
       CAST(CASE WHEN (SELECT COUNT(*) FROM pu) = 0 THEN 0
                 ELSE COALESCE(MAX(n), 0) * 1000000
                      // (SELECT COUNT(*) FROM pu) END AS BIGINT)
         AS conversion_ppm,
       CAST(SUM(delta_s * 2 / ((n + 2) // 2 - (n + 1) // 2 + 1)) AS BIGINT)
         AS median_2x_delta_s
FROM r
WHERE rank IN ((n + 1) // 2, (n + 2) // 2)
"""


# ---------------------------------------------------------------------------
# Multi-touch attribution
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 24 * 3600 * 1_000_000


_ATTR_CHANNELS = "('view', 'click', 'signup')"


_ATTR_CORE = f"""
WITH t AS (
  SELECT user_id, event_id, {{epoch_us}} AS us, event_type
  FROM {{events}}
), p AS (
  SELECT user_id, event_id AS purchase_id, us AS pus
  FROM t WHERE event_type = 'purchase'
), touch AS (
  SELECT p.purchase_id, t.event_type AS channel,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY t.us, t.event_id) AS rk_first,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY t.us DESC, t.event_id DESC) AS rk_last,
         COUNT(*) OVER (PARTITION BY p.purchase_id) AS nt
  FROM p JOIN t
    ON p.user_id = t.user_id
   AND t.event_type IN {_ATTR_CHANNELS}
   AND t.us < p.pus
   AND t.us >= p.pus - {_ATTR_WINDOW_US}
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(CASE WHEN rk_first = 1 THEN 1000 ELSE 0 END) AS BIGINT)
         AS first_touch_milli,
       CAST(SUM(CASE WHEN rk_last = 1 THEN 1000 ELSE 0 END) AS BIGINT)
         AS last_touch_milli,
       CAST(SUM(1000 {{div}} nt) AS BIGINT) AS linear_milli
FROM touch
GROUP BY channel
"""


#   * ``events_multitouch_attribution`` — first-touch / last-touch /
#     linear credit for every purchase over the user's view/click/
#     signup touches in the preceding 24h. One user_id-keyed range join
#     (the as-of family's bounded shape — per-user activity windows,
#     never a cross join) and two rank windows per purchase; credits
#     are integer milli-units so every model sums exactly.
def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel conversion credit under the three standard
    attribution models, milli-credits per purchase (linear credit is
    floor(1000/nt) per touch — the declared integer contract, so a
    3-touch purchase distributes 999). The purchase-touch pairing is
    a user-keyed time-range join — work bounded by per-user activity
    in 24h windows — and both rank windows share the purchase_id
    exchange."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r23_attr_events"
    )
    return spark.sql(
        _ATTR_CORE.format(
            events="r23_attr_events", epoch_us="unix_micros(ts)", div="DIV"
        )
    )


_ATTR_DUCK = _ATTR_CORE.format(
    events="events", epoch_us="epoch_us(ts)", div="//"
)


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------


#   * ``events_rfm_segmentation`` — classic RFM scoring: every
#     purchasing user ranked into quintiles on Recency, Frequency and
#     Monetary value (three ``global_rank`` passes over the persisted
#     per-user aggregate — range exchanges + broadcast offsets, never a
#     single-partition window), folded into the 'R{r}F{f}M{m}' segment
#     grid with population and value share.
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile grid over purchasing users. Recency ranks by last
    purchase time DESC (most recent = quintile 5 after the flip built
    into the rank direction), frequency and monetary ASC (highest =
    5); quintile = (rank-1)*5 DIV n + 1, ties broken by user_id so
    every engine lands identical grids. Each dimension is one
    auto-sized ``global_rank`` over the SAME persisted per-user
    relation — the fact table is reduced exactly once."""
    ev = load_table(spark, sf_dir, "events")
    per_user = track_persist(
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count("*").alias("freq"),
            F.sum(F.round(F.col("value") * 100).try_cast("bigint")).alias(
                "m_cents"
            ),
        )
    )
    n = per_user.count()  # bounded scalar
    if n == 0:
        return spark.createDataFrame(
            [], "segment string, n_users bigint, segment_cents bigint"
        )

    def quintile(df: DataFrame, order_col: str, out: str) -> DataFrame:
        ranked = global_rank(df, [order_col, "user_id"], rows=n)
        # integer DIV, not double-divide-then-cast: DuckDB's double->int
        # cast ROUNDS while Spark's truncates, so only integer division
        # keeps the quintile boundaries engine-identical
        return ranked.withColumn(
            out, F.expr(f"CAST((rank - 1) * 5 DIV {n} AS INT) + 1")
        ).drop("rank")

    scored = quintile(per_user, "last_us", "r_q")  # later purchase -> higher q
    scored = quintile(scored, "freq", "f_q")
    scored = quintile(scored, "m_cents", "m_q")
    return (
        scored.groupBy(
            F.concat(
                F.lit("R"), F.col("r_q"), F.lit("F"), F.col("f_q"),
                F.lit("M"), F.col("m_q"),
            ).alias("segment")
        )
        .agg(
            F.count("*").alias("n_users"),
            F.sum("m_cents").alias("segment_cents"),
        )
    )


_RFM_DUCK = """
WITH pu AS (
  SELECT user_id,
         MAX(epoch_us(ts)) AS last_us,
         COUNT(*) AS freq,
         SUM(TRY_CAST(round(value * 100) AS BIGINT)) AS m_cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
), q AS (
  SELECT m_cents,
         CAST((ROW_NUMBER() OVER (ORDER BY last_us, user_id) - 1) * 5
              // COUNT(*) OVER () AS INT) + 1 AS r_q,
         CAST((ROW_NUMBER() OVER (ORDER BY freq, user_id) - 1) * 5
              // COUNT(*) OVER () AS INT) + 1 AS f_q,
         CAST((ROW_NUMBER() OVER (ORDER BY m_cents, user_id) - 1) * 5
              // COUNT(*) OVER () AS INT) + 1 AS m_q
  FROM pu
)
SELECT 'R' || r_q || 'F' || f_q || 'M' || m_q AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(m_cents) AS BIGINT) AS segment_cents
FROM q
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Bot detection: inter-arrival regularity
# ---------------------------------------------------------------------------

_BOT_MIN_GAPS = 19        # >= 20 events


_BOT_CV_PPM = 250_000     # CV < 0.25 => suspiciously regular


_BOT_CORE = f"""
WITH e AS (
  SELECT user_id, event_id, {{epoch_us}} AS us FROM {{events}}
), g AS (
  SELECT user_id,
         us - LAG(us) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) AS gap
  FROM e
), s AS (
  SELECT user_id, COUNT(gap) AS n_gaps,
         SUM(CAST(gap AS {{big}})) AS s1,
         SUM(CAST(gap AS {{big}}) * gap) AS s2
  FROM g GROUP BY user_id
), cv AS (
  SELECT user_id, n_gaps, s1,
         CAST(floor(sqrt(CAST(n_gaps * s2 - s1 * s1 AS DOUBLE))
                    / CAST(s1 AS DOUBLE) * 1e6) AS BIGINT) AS cv_ppm
  FROM s WHERE n_gaps > 0
)
SELECT user_id,
       CAST(n_gaps AS BIGINT) AS n_gaps,
       CAST(s1 {{idiv}} n_gaps AS BIGINT) AS mean_gap_us,
       cv_ppm,
       CASE WHEN n_gaps >= {_BOT_MIN_GAPS} AND cv_ppm < {_BOT_CV_PPM}
            THEN 1 ELSE 0 END AS bot_flag
FROM cv
ORDER BY cv_ppm, user_id
"""


#   * ``events_bot_detection`` — per-user inter-arrival regularity
#     profile: gap mean and coefficient of variation from exact
#     DECIMAL/HUGEINT power sums over one user_id exchange (lag and the
#     per-user reduction share it). Too-regular spacing (low CV, enough
#     events) flags automation — the bot/spam gate a crawl corpus runs
#     before training. The fixtures' arrivals are random, so the flag
#     column is expectedly all-zero here; the machinery (not the
#     fixture) is what the oracle pins.
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival regularity: gap CV from exact
    DECIMAL/HUGEINT power sums (sqrt(n*s2 - s1^2)/s1 as one
    fixed-order double, micro-floored — the Spearman/Welch cast
    idiom). LAG and the per-user reduction share one user_id
    exchange. Humans and Poisson-ish traffic sit near CV = 1;
    near-constant spacing (CV < 0.25 over >= 20 events) flags
    automation. The fixture's arrivals are random, so zero flags here
    is the expected output — the profile and threshold machinery are
    what the oracle checks."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r34_bot_events"
    )
    return spark.sql(
        _BOT_CORE.format(events="r34_bot_events", epoch_us="unix_micros(ts)",
                         big="DECIMAL(38,0)", idiv="DIV")
    )


_BOT_DUCK = _BOT_CORE.format(
    events="events", epoch_us="epoch_us(ts)", big="HUGEINT", idiv="//"
)


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------

# Shared core: identical SQL text in both engines modulo the table
# name, the epoch accessor and the integer-division spelling, so the
# float expression shapes (and therefore every IEEE operation) match.
_DID_CORE = """
WITH e AS (
  SELECT user_id % 2 AS treat, ({epoch_us}) AS u,
         TRY_CAST(floor(CASE WHEN value - value = 0 AND abs(value) < 9.0e15 THEN value * 1000 END) AS BIGINT) AS v
  FROM {events}
), span AS (
  SELECT MIN(u) + (MAX(u) - MIN(u)) {idiv} 2 AS mid FROM e
), cells AS (
  SELECT
    SUM(CASE WHEN treat = 1 AND u >= mid THEN 1 ELSE 0 END) AS n_tp,
    SUM(CASE WHEN treat = 1 AND u >= mid THEN v ELSE 0 END) AS s_tp,
    SUM(CASE WHEN treat = 1 AND u <  mid THEN 1 ELSE 0 END) AS n_t0,
    SUM(CASE WHEN treat = 1 AND u <  mid THEN v ELSE 0 END) AS s_t0,
    SUM(CASE WHEN treat = 0 AND u >= mid THEN 1 ELSE 0 END) AS n_cp,
    SUM(CASE WHEN treat = 0 AND u >= mid THEN v ELSE 0 END) AS s_cp,
    SUM(CASE WHEN treat = 0 AND u <  mid THEN 1 ELSE 0 END) AS n_c0,
    SUM(CASE WHEN treat = 0 AND u <  mid THEN v ELSE 0 END) AS s_c0
  FROM e, span
)
SELECT CAST(n_tp AS BIGINT) AS n_treat_post,
       CAST(n_t0 AS BIGINT) AS n_treat_pre,
       CAST(n_cp AS BIGINT) AS n_ctrl_post,
       CAST(n_c0 AS BIGINT) AS n_ctrl_pre,
       CAST(floor(s_tp / n_tp) AS BIGINT) AS mean_treat_post_milli,
       CAST(floor(s_t0 / n_t0) AS BIGINT) AS mean_treat_pre_milli,
       CAST(floor(s_cp / n_cp) AS BIGINT) AS mean_ctrl_post_milli,
       CAST(floor(s_c0 / n_c0) AS BIGINT) AS mean_ctrl_pre_milli,
       CAST(floor(((s_tp / n_tp - s_t0 / n_t0)
                   - (s_cp / n_cp - s_c0 / n_c0)) * 1000) AS BIGINT)
         AS did_micro
FROM cells
"""


#   * ``events_diff_in_diff`` — difference-in-differences estimate of
#     the treatment effect on event value: users hash-split into
#     treat/control arms, time split at the observed midpoint, the
#     2x2 cell means and the DiD interaction from one conditional
#     aggregate over exact milli-unit integer sums.
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: treat = odd user ids, post = second
    half of the observed time span (midpoint from a 1-row scalar
    aggregate, crossJoined — no collect). All eight 2x2 cell sums
    accumulate as exact milli-unit integers in ONE conditional
    aggregate pass; the four means and the DiD interaction are a
    fixed-shape float expression over those integers, identical SQL
    text in both engines (floor to milli/micro). The A/B lift query
    measures a marginal difference; DiD is the panel version that
    nets out time trends — the causal-measurement shape for feature
    launches. One scan, one 1-row broadcast, any scale."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r39_did_events"
    )
    return spark.sql(
        _DID_CORE.format(
            events="r39_did_events",
            epoch_us="unix_micros(ts)",
            idiv="DIV",
        )
    )


_DID_DUCK = _DID_CORE.format(
    events="events", epoch_us="epoch_us(ts)", idiv="//"
)


# ---------------------------------------------------------------------------
# Markov stationary distribution
# ---------------------------------------------------------------------------

_PI_SCALE = 1_000_000_000_000  # state mass in parts-per-1e12


_PI_ITERS = 8


def markov_trans_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (prev, next, c, tot) event-type transition
    relation — ONE per-user lag window over events serves both markov
    consumers (`events_markov_stationary` here and
    `events_markov_transitions` in curation2, which previously re-ran
    the window per call). NULL ts/user_id hit opposite window
    NULL-ordering defaults and a NULL event_type would mint a phantom
    chain state — dropped symmetrically with both oracles."""
    def build():
        ev = load_table(spark, sf_dir, "events").where(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            ev.withColumn("prev", F.lag("event_type").over(w))
            .where(F.col("prev").isNotNull())
            .groupBy("prev", F.col("event_type").alias("next"))
            .agg(F.count("*").alias("c"))
            .withColumn(
                "tot", F.sum("c").over(Window.partitionBy("prev"))
            )
        )

    return shared(spark, sf_dir, "markov_trans", build)


def _pi_iter_sql(trans: str, idiv: str) -> str:
    ctes = [
        f"""states AS (
  SELECT DISTINCT prev AS state FROM {trans}
), it0 AS (
  SELECT state,
         CAST({_PI_SCALE} {idiv} (SELECT COUNT(*) FROM states) AS BIGINT)
           AS v
  FROM states
)"""
    ]
    for k in range(1, _PI_ITERS + 1):
        ctes.append(f"""it{k} AS (
  SELECT t.next AS state, SUM(p.v * t.c {idiv} t.tot) AS v
  FROM it{k - 1} p JOIN {trans} t ON t.prev = p.state
  GROUP BY t.next
)""")
    last, prev = f"it{_PI_ITERS}", f"it{_PI_ITERS - 1}"
    ctes.append(f"""res AS (
  SELECT SUM(ABS(a.v - b.v)) AS d
  FROM {last} a JOIN {prev} b ON a.state = b.state
)""")
    return (
        ", ".join(ctes)
        + f"""
SELECT a.state AS event_type,
       CAST(a.v {idiv} 1000 AS BIGINT) AS pi_ppb,
       CAST(r.d AS BIGINT) AS delta_l1_e12
FROM {last} a CROSS JOIN res r
ORDER BY event_type"""
    )


#   * ``events_markov_stationary`` — stationary distribution of the
#     event-type Markov chain by EIGHT unrolled power-iteration steps
#     over the persisted 25-row transition relation, in pure integer
#     arithmetic (state mass scaled to 1e12; each step's per-edge
#     contribution is an exact integer floor-divide). The L1 delta
#     between the last two iterates is reported so convergence is a
#     checked number, not an assumption.
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type transition chain:
    pi_{{k+1}}[j] = sum_i pi_k[i] * c_ij / tot_i, eight steps unrolled
    over the persisted (prev, next, count, row-total) relation — the
    PageRank shape at dimension 5, so the entire iteration is window
    work on 25 rows after ONE lag-window shuffle builds the
    transitions. Integer mass (1e12 scale) with exact per-edge floor
    divides: no floats anywhere, any engine/partitioning agrees to
    the last unit. delta_l1_e12 reports |pi_8 - pi_7|_1 so
    convergence is checked, not assumed.

    The DATA-sized stage — the per-user lag window over events — is
    distributed; the transition matrix it produces is bounded by the
    event-type alphabet squared (a generator/domain constant, ≤25
    rows at any event volume), so it is pulled once as a bounded
    summary and the eight fixpoint steps run driver-side (guide
    §1.2: the unrolled-CTE form scheduled ~16 exchange stages over
    those 25 rows — scheduling overhead was ~1.7s of a 2.2s query).
    The integer arithmetic below replicates the SQL exactly (all
    operands non-negative, so python // == Spark DIV == DuckDB //);
    the oracle still runs the unrolled-CTE form, so parity PROVES
    the replication."""
    # bounded collect: ≤ |event-type alphabet|² transition rows
    t_rows = markov_trans_cached(spark, sf_dir).collect()
    states = sorted({r["prev"] for r in t_rows})
    schema = "event_type string, pi_ppb bigint, delta_l1_e12 bigint"
    if not states:
        return spark.createDataFrame([], schema)
    v = {s: _PI_SCALE // len(states) for s in states}
    prev_v: dict = {}
    for _ in range(_PI_ITERS):
        prev_v = v
        nxt: dict = {}
        for r in t_rows:
            if r["prev"] in v:
                nxt[r["next"]] = (
                    nxt.get(r["next"], 0) + v[r["prev"]] * r["c"] // r["tot"]
                )
        v = nxt
    common = set(v) & set(prev_v)
    d = sum(abs(v[s] - prev_v[s]) for s in common) if common else None
    rows = [(s, v[s] // 1000, d) for s in sorted(v)]
    return spark.createDataFrame(rows, schema).orderBy("event_type")


_PI_DUCK = (
    """
WITH seq AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL
), tcount AS (
  SELECT prev, event_type AS next, COUNT(*) AS c
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
), trans AS (
  SELECT prev, next, c, SUM(c) OVER (PARTITION BY prev) AS tot
  FROM tcount
), """
    + _pi_iter_sql("trans", "//")
)


# ---------------------------------------------------------------------------
# Sequential probability ratio test (Wald SPRT)
# ---------------------------------------------------------------------------

_SPRT_P0 = 0.18


_SPRT_P1 = 0.22


# per-event LLR in integer micro-nats, precomputed so both engines use
# identical literals (no cross-engine ln() in the hot path)
_SPRT_L1 = math.floor(math.log(_SPRT_P1 / _SPRT_P0) * 1_000_000)


_SPRT_L0 = math.floor(
    math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1_000_000
)


_SPRT_B = math.floor(math.log(19.0) * 1_000_000)  # alpha = beta = 0.05


_SPRT_FINAL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(llr) AS BIGINT) AS final_llr_micro,
       CAST(SUM(CASE WHEN cum >= {_SPRT_B} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above_upper,
       CAST(SUM(CASE WHEN cum <= -{_SPRT_B} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_below_lower,
       CAST(MIN(CASE WHEN cum >= {_SPRT_B} THEN u END) AS BIGINT)
         AS first_upper_us,
       CAST(MIN(CASE WHEN cum <= -{_SPRT_B} THEN u END) AS BIGINT)
         AS first_lower_us
FROM {{cum}}
"""


#   * ``events_sprt_ab_test`` — Wald's sequential probability ratio
#     test on the purchase-conversion stream: per-event log-likelihood
#     ratios (integer micro-nats, precomputed module constants), the
#     running total via the ``global_prefix_sum`` primitive (ONE range
#     exchange, no single-partition window), and the first boundary
#     crossing in event-time order. Sequential testing is how an
#     experimentation platform stops experiments early at scale.
def events_sprt_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT for 'is the purchase-conversion rate p1 = 0.22 vs
    p0 = 0.18': each event contributes a precomputed integer
    micro-nat log-likelihood ratio; the running total over event time
    uses ``global_prefix_sum`` (one range exchange + broadcast
    partition offsets — NO single-partition window over the event
    stream), and the output reports boundary-crossing counts and the
    first crossing timestamps. The fixture's true rate (~0.198) sits
    between the hypotheses, so the expected outcome is 'no early
    stop' — which the numbers must PROVE, not presume."""
    # a NULL ts has no place on the sequential-time axis (and sorts on
    # opposite ends of it across engines) — dropped symmetrically.
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            F.unix_micros("ts").alias("u"),
            "event_id",
            F.when(F.col("event_type") == "purchase", F.lit(_SPRT_L1))
            .otherwise(F.lit(_SPRT_L0))
            .alias("llr"),
        )
    )
    cum = global_prefix_sum(
        ev, order_by=["u", "event_id"], value_col="llr", out_col="cum"
    )
    cum.createOrReplaceTempView("r44_sprt_cum")
    return spark.sql(_SPRT_FINAL.format(cum="r44_sprt_cum"))


_SPRT_DUCK = f"""
WITH base AS (
  SELECT epoch_us(ts) AS u, event_id,
         CASE WHEN event_type = 'purchase' THEN {_SPRT_L1}
              ELSE {_SPRT_L0} END AS llr
  FROM events
  WHERE ts IS NOT NULL
), c AS (
  SELECT u, llr,
         SUM(llr) OVER (ORDER BY u, event_id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM base
)
""" + _SPRT_FINAL.format(cum="c")


# ---------------------------------------------------------------------------
# Sample Ratio Mismatch
# ---------------------------------------------------------------------------

_SRM_CRIT_MILLI = 3841  # chi2(1 dof) at alpha = 0.05, milli-scaled


_SRM_CORE = f"""
WITH u AS (
  SELECT DISTINCT user_id FROM {{events}}
), s AS (
  SELECT SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n0,
         SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n1
  FROM u
)
SELECT CAST(n0 AS BIGINT) AS n_control,
       CAST(n1 AS BIGINT) AS n_treat,
       CAST((n0 - n1) * (n0 - n1) * 1000 {{idiv}} (n0 + n1) AS BIGINT)
         AS chi2_milli,
       ((n0 - n1) * (n0 - n1) * 1000 {{idiv}} (n0 + n1))
         > {_SRM_CRIT_MILLI} AS srm_detected
FROM s
"""


#   * ``events_ab_srm_check`` — Sample Ratio Mismatch: the first thing
#     a trustworthy experimentation platform checks. Chi-square of the
#     observed user split against the declared 50/50 assignment, one
#     distinct-user scan, milli-scaled integer statistic with the
#     alpha = 0.05 critical value as a flag.
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample Ratio Mismatch gate for the hash-assigned experiment
    arms: chi-square of the distinct-user split against 50/50, exact
    integer milli arithmetic ((n0-n1)^2/(n0+n1) needs no expected-
    count floats when the design ratio is 1:1). An SRM flag
    invalidates every downstream lift number, which is why this scan
    runs BEFORE `events_ab_test_lift` in any honest readout. One
    distinct aggregate; scales as a user-keyed count."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r46_srm_events"
    )
    return spark.sql(_SRM_CORE.format(events="r46_srm_events", idiv="DIV"))


_SRM_DUCK = _SRM_CORE.format(events="events", idiv="//")


# ---------------------------------------------------------------------------
# CUPED
# ---------------------------------------------------------------------------

_CUPED_CORE = """
WITH e AS (
  SELECT user_id, ({epoch_us}) AS u,
         TRY_CAST(floor(CASE WHEN value - value = 0 AND abs(value) < 9.0e15 THEN value * 1000 END) AS BIGINT) AS v
  FROM {events}
), span AS (
  SELECT MIN(u) + (MAX(u) - MIN(u)) {idiv} 2 AS mid FROM e
), per_user AS (
  SELECT user_id, user_id % 2 AS arm,
         SUM(CASE WHEN u <  mid THEN v ELSE 0 END) AS x,
         SUM(CASE WHEN u >= mid THEN v ELSE 0 END) AS y
  FROM e CROSS JOIN span GROUP BY user_id
), s AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
         SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS sx1,
         SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS sy1,
         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
         SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS sx0,
         SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS sy0
  FROM per_user
), t AS (
  SELECT *,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho
  FROM s
)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST(floor(theta * 1000000) AS BIGINT) AS theta_micro,
       CAST(floor((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
                  * 1000) AS BIGINT) AS lift_raw_micro,
       CAST(floor(((CAST(sy1 AS DOUBLE) / n1
                    - theta * (CAST(sx1 AS DOUBLE) / n1
                               - CAST(sx AS DOUBLE) / n))
                   - (CAST(sy0 AS DOUBLE) / n0
                      - theta * (CAST(sx0 AS DOUBLE) / n0
                                 - CAST(sx AS DOUBLE) / n)))
                  * 1000) AS BIGINT) AS lift_cuped_micro,
       CAST(floor(rho * rho * 1000000) AS BIGINT) AS var_reduction_ppm
FROM t
"""


#   * ``events_cuped_variance_reduction`` — CUPED, the standard
#     experimentation variance-reduction trick: regress each user's
#     post-period metric on their PRE-period activity (theta =
#     cov/var from exact DECIMAL power sums), report the raw and
#     covariate-adjusted lifts and the achieved variance reduction.
#     Completes the experiment suite (SRM gate -> power analysis ->
#     lift -> CUPED -> SPRT -> permutation test -> DiD).
def events_cuped_variance_reduction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUPED adjustment of the arm lift in post-period user value,
    using each user's PRE-period value (observed-midpoint time split,
    the DiD convention) as the covariate. theta and rho come from one
    set of exact DECIMAL(38,0)/HUGEINT power sums over the per-user
    relation — one user-keyed groupBy, one 1-row aggregate, one
    broadcast midpoint. var_reduction_ppm = rho^2: CUPED's entire
    value proposition as a checked number (a useless covariate
    reports ~0 and the adjusted lift equals the raw one). Scales as
    any per-user rollup."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r47_cuped_events"
    )
    return spark.sql(
        _CUPED_CORE.format(
            events="r47_cuped_events",
            epoch_us="unix_micros(ts)",
            idiv="DIV",
        )
    )


_CUPED_DUCK = _CUPED_CORE.format(
    events="events", epoch_us="epoch_us(ts)", idiv="//"
)


# ---------------------------------------------------------------------------
# Qini uplift curve
# ---------------------------------------------------------------------------

_QINI_CORE = """
WITH users AS (
  SELECT user_id,
         CAST(user_id % 2 AS BIGINT) AS treated,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM {events} WHERE user_id IS NOT NULL GROUP BY user_id
), scored AS (
  SELECT treated, y,
         NTILE(10) OVER (ORDER BY md5(CAST(user_id AS {str})), user_id)
           AS decile
  FROM users
), per_d AS (
  SELECT decile,
         SUM(treated) AS n_t, SUM(1 - treated) AS n_c,
         SUM(treated * y) AS r_t, SUM((1 - treated) * y) AS r_c
  FROM scored GROUP BY decile
), cum AS (
  SELECT decile,
         SUM(n_t) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cn_t,
         SUM(n_c) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cn_c,
         SUM(r_t) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cr_t,
         SUM(r_c) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cr_c
  FROM per_d
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(cn_t AS BIGINT) AS cum_n_treat,
       CAST(cn_c AS BIGINT) AS cum_n_ctrl,
       CAST(cr_t AS BIGINT) AS cum_resp_treat,
       CAST(cr_c AS BIGINT) AS cum_resp_ctrl,
       CAST(CASE WHEN cn_c > 0
                 THEN 1000 * (cr_t * cn_c - cr_c * cn_t) {idiv} cn_c
                 ELSE 0 END AS BIGINT) AS qini_milli
FROM cum
ORDER BY decile
"""


#   * ``events_uplift_qini`` — the Qini curve for uplift models:
#     users ranked by a deterministic hash score, cumulative
#     treated-minus-scaled-control responses per decile.  Pure
#     integer arithmetic (milli units, integer division).
def events_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for uplift evaluation: users split into a
    deterministic treatment arm (user_id parity), ranked by a
    deterministic md5 'model score', and per cumulative decile the
    Qini value q(d) = cumR_t − cumR_c·(cumN_t/cumN_c) in exact
    integer milli units.  A random score yields a Qini hugging zero
    — which is the point: the harness (deciles, cumulative window,
    integer scaling) is the operator; a real uplift model drops its
    score column in.  One user-level aggregation, one 10-row
    window."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r52_qini_events"
    )
    return spark.sql(
        _QINI_CORE.format(
            events="r52_qini_events", str="STRING", idiv="DIV"
        )
    )


_QINI_DUCK = _QINI_CORE.format(events="events", str="VARCHAR", idiv="//")


# ---------------------------------------------------------------------------
# Burstiness + Fano factor
# ---------------------------------------------------------------------------

_BURST_CORE = """
WITH ts AS (
  SELECT user_id, {ts_us} AS t_us, event_id FROM {events}
), dt AS (
  SELECT t_us - LAG(t_us) OVER (PARTITION BY user_id
                                ORDER BY t_us, event_id) AS dt_us
  FROM ts
), ds AS (
  SELECT COUNT(*) AS n, SUM(dt_us) AS s1,
         SUM(CAST(dt_us AS DECIMAL(38,0)) * dt_us) AS s2
  FROM dt WHERE dt_us IS NOT NULL
), hourly AS (
  SELECT t_us {idiv} 3600000000 AS h, COUNT(*) AS c
  FROM ts GROUP BY t_us {idiv} 3600000000
), hs AS (
  SELECT COUNT(*) AS hn, SUM(c) AS hs1,
         SUM(CAST(c AS DECIMAL(38,0)) * c) AS hs2
  FROM hourly
)
SELECT CAST(ds.n AS BIGINT) AS n_intervals,
       CAST(ds.s1 {idiv} ds.n AS BIGINT) AS mean_dt_us,
       CAST(floor((sqrt((CAST(ds.s2 AS DOUBLE) * ds.n
                         - CAST(ds.s1 AS DOUBLE) * ds.s1))
                     / ds.n
                   - CAST(ds.s1 AS DOUBLE) / ds.n)
                  / (sqrt((CAST(ds.s2 AS DOUBLE) * ds.n
                           - CAST(ds.s1 AS DOUBLE) * ds.s1))
                       / ds.n
                     + CAST(ds.s1 AS DOUBLE) / ds.n)
                  * 1000) AS BIGINT) AS burstiness_milli,
       CAST(hs.hn AS BIGINT) AS n_hours,
       CAST(floor((CAST(hs.hs2 AS DOUBLE) * hs.hn
                   - CAST(hs.hs1 AS DOUBLE) * hs.hs1)
                  / (CAST(hs.hn AS DOUBLE) - 1) / hs.hn
                  / (CAST(hs.hs1 AS DOUBLE) / hs.hn)
                  * 1000) AS BIGINT) AS fano_milli
FROM ds CROSS JOIN hs
"""


#   * ``events_burstiness`` — the burstiness coefficient
#     B = (σ−μ)/(σ+μ) of per-user interarrivals plus the Fano factor
#     of hourly counts: the two standard 'is this traffic Poisson or
#     bursty' numbers, from exact integer power sums.
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness coefficient B = (σ−μ)/(σ+μ) of per-user event
    interarrivals (B→−1 periodic, 0 Poisson, →1 bursty) next to the
    Fano factor (variance/mean) of hourly event counts — the two
    standard traffic-shape diagnostics, both from exact integer
    power sums with one fixed-shape float each.  The interarrival
    window partitions by user; the hourly histogram is bounded by
    the observation span."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r53_burst_events"
    )
    return spark.sql(
        _BURST_CORE.format(
            events="r53_burst_events", ts_us="unix_micros(ts)", idiv="DIV"
        )
    )


_BURST_DUCK = _BURST_CORE.format(
    events="events", ts_us="epoch_us(ts)", idiv="//"
)


# ---------------------------------------------------------------------------
# Markov entropy rate
# ---------------------------------------------------------------------------

_ENTRATE_CORE = """
WITH seq AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM {events}
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL
), trans AS (
  SELECT prev, event_type AS next, COUNT(*) AS c
  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
), wt AS (
  SELECT prev, next, c, SUM(c) OVER (PARTITION BY prev) AS tot,
         SUM(c) OVER (PARTITION BY next) AS ctot,
         SUM(c) OVER () AS t
  FROM trans
), terms AS (
  SELECT t,
         CAST(floor(c * ln(CAST(tot AS DOUBLE) / c) * 1000000)
              AS BIGINT) AS rate_term,
         c, next, ctot
  FROM wt
), marg AS (
  SELECT next, MAX(ctot) AS cn, MAX(t) AS t FROM terms GROUP BY next
), h AS (
  SELECT SUM(rate_term) AS rate_num, MAX(t) AS t,
         COUNT(DISTINCT next) AS n_states
  FROM terms
), hm AS (
  SELECT SUM(CAST(floor(cn * ln(CAST(t AS DOUBLE) / cn) * 1000000)
                  AS BIGINT)) AS marg_num
  FROM marg
)
SELECT CAST(h.t AS BIGINT) AS n_transitions,
       CAST(h.n_states AS BIGINT) AS n_states,
       CAST(h.rate_num {idiv} h.t AS BIGINT) AS entropy_rate_micro_nats,
       CAST(hm.marg_num {idiv} h.t AS BIGINT) AS marginal_entropy_micro_nats,
       CAST(hm.marg_num {idiv} h.t - h.rate_num {idiv} h.t AS BIGINT)
         AS chain_information_micro_nats
FROM h CROSS JOIN hm
"""


#   * ``events_markov_entropy_rate`` — plug-in entropy rate of the
#     event-type transition chain, next to the marginal next-state
#     entropy: the gap between them is exactly the information the
#     chain structure carries.  Every term is c·ln(tot/c) — one ln of
#     an exact integer rational — floored to micro-nats BEFORE the
#     integer sum.
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plug-in entropy rate of the event-type chain,
    H = (1/T)Σ_ij c_ij·ln(tot_i/c_ij), next to the marginal
    next-state entropy; their difference is the information the
    chain carries (0 would mean event types are i.i.d.).  Each term
    is one ln of an exact integer rational floored to micro-nats
    before the integer sum, so both entropies and the gap are
    engine-exact.  One lag-window shuffle builds the transitions;
    everything after is states²-sized."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r54_ent_events"
    )
    return spark.sql(_ENTRATE_CORE.format(events="r54_ent_events", idiv="DIV"))


_ENTRATE_DUCK = _ENTRATE_CORE.format(events="events", idiv="//")


# ---------------------------------------------------------------------------
# DAU/MAU stickiness
# ---------------------------------------------------------------------------

_DAU_CORE = """
WITH days AS (
  SELECT {epoch_us} {idiv} 86400000000 AS d, user_id
  FROM {events}
), dau AS (
  SELECT d, d {idiv} 30 AS mo, COUNT(DISTINCT user_id) AS dau
  FROM days GROUP BY d
), mau AS (
  SELECT d {idiv} 30 AS mo, COUNT(DISTINCT user_id) AS mau
  FROM days GROUP BY d {idiv} 30
), agg AS (
  SELECT dau.mo, COUNT(*) AS n_days, SUM(dau.dau) AS sum_dau,
         MAX(mau.mau) AS mau
  FROM dau JOIN mau ON mau.mo = dau.mo
  GROUP BY dau.mo
)
SELECT CAST(mo AS BIGINT) AS month_idx,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(sum_dau {idiv} n_days AS BIGINT) AS avg_dau,
       CAST(mau AS BIGINT) AS mau,
       CAST(1000 * sum_dau {idiv} (n_days * mau) AS BIGINT)
         AS stickiness_milli
FROM agg
ORDER BY month_idx
"""


#   * ``events_dau_mau_stickiness`` — DAU/MAU stickiness per 30-day
#     epoch month: the engagement ratio every product dashboard
#     leads with, in pure integer arithmetic.
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per 30-day epoch month (epoch months keep
    the bucketing timezone-free and engine-exact; calendar months
    are one date_trunc swap): average daily actives over monthly
    actives, the engagement ratio product dashboards lead with.
    Two distinct-count aggregations over (day, user) — at 100 TB
    both swap to the documented HLL sketch contract — and a
    month-bounded join."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "r55_dau_events"
    )
    return spark.sql(
        _DAU_CORE.format(
            events="r55_dau_events", epoch_us="unix_micros(ts)", idiv="DIV"
        )
    )


_DAU_DUCK = _DAU_CORE.format(
    events="events", epoch_us="epoch_us(ts)", idiv="//"
)


QUERIES = {
    "events_funnel_conversion": events_funnel_conversion,
    "cohort_retention": cohort_retention,
    "events_sessionize": events_sessionize,
    "events_markov_transitions": events_markov_transitions,
    "events_pattern_vshape": events_pattern_vshape,
    "events_ab_test_lift": events_ab_test_lift,
    "events_rate_spike_zscore": events_rate_spike_zscore,
    "events_user_journey_paths": events_user_journey_paths,
    "events_time_to_convert": events_time_to_convert,
    "events_multitouch_attribution": events_multitouch_attribution,
    "events_rfm_segmentation": events_rfm_segmentation,
    "events_bot_detection": events_bot_detection,
    "events_diff_in_diff": events_diff_in_diff,
    "events_markov_stationary": events_markov_stationary,
    "events_sprt_ab_test": events_sprt_ab_test,
    "events_ab_srm_check": events_ab_srm_check,
    "events_cuped_variance_reduction": events_cuped_variance_reduction,
    "events_uplift_qini": events_uplift_qini,
    "events_burstiness": events_burstiness,
    "events_markov_entropy_rate": events_markov_entropy_rate,
    "events_dau_mau_stickiness": events_dau_mau_stickiness,
}

ORACLE = {
    "events_funnel_conversion": _FUNNEL_SQL,
    "cohort_retention": _COHORT_SQL,
    "events_sessionize": _SESSIONIZE_SQL,
    "events_markov_transitions": _MARKOV_SQL,
    "events_pattern_vshape": _VSHAPE_SQL,
    "events_ab_test_lift": _AB_DUCK,
    "events_rate_spike_zscore": _SPIKE_DUCK,
    "events_user_journey_paths": _JOURNEY_DUCK,
    "events_time_to_convert": _TTC_DUCK,
    "events_multitouch_attribution": _ATTR_DUCK,
    "events_rfm_segmentation": _RFM_DUCK,
    "events_bot_detection": _BOT_DUCK,
    "events_diff_in_diff": _DID_DUCK,
    "events_markov_stationary": _PI_DUCK,
    "events_sprt_ab_test": _SPRT_DUCK,
    "events_ab_srm_check": _SRM_DUCK,
    "events_cuped_variance_reduction": _CUPED_DUCK,
    "events_uplift_qini": _QINI_DUCK,
    "events_burstiness": _BURST_DUCK,
    "events_markov_entropy_rate": _ENTRATE_DUCK,
    "events_dau_mau_stickiness": _DAU_DUCK,
}
