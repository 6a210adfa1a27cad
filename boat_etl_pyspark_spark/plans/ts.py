"""Time-series analytics: bars, seasonality and decomposition,
periodograms and lead-lag correlation, control charts, distribution and
long-memory fits, interpolation and anomaly detection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import track_persist
from ..functions.numeric import cents
from ..operators.library import global_rank
from ..sources.readers import load_table
from .contract import (
    money_rounded,
    money_rounded_sql,
    tpch_date_valid_sql,
    value_bounded,
)
from . import bind_sql


# ---------------------------------------------------------------------------
# Linear interpolation across calendar gaps
# ---------------------------------------------------------------------------


#   * ``interp_linear_fill`` — linear interpolation across calendar
#     gaps (vs LOCF in ``window_locf_fill``): integer-cents endpoints,
#     integer day distances, integer division — bit-stable.
def interp_linear_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify each event type's daily value series to the full
    calendar and LINEARLY interpolate missing days (the step up from
    LOCF): interp = prev + (next - prev) * days_since_prev DIV span.
    Endpoints are integer cents and distances integer days, so the
    division is engine-identical. One window partition per event type
    — embarrassingly parallel across series; at scale the calendar
    densification is a broadcast range join against a generated
    dimension, exactly as here."""
    ev = load_table(spark, sf_dir, "events")
    # value-level domain bound (contract.VALUE_DOMAIN_DOLLARS): an
    # out-of-domain value contributes like NULL but its day still
    # exists, keeping the p_cents*d_next interpolation products exact
    # INT64 in both engines (round-8 probe overflow class).
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.sum(cents(value_bounded(F.col("value")))).alias("day_cents"))
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    calendar = bounds.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    dense = calendar.join(daily, ["event_type", "day"], "left")
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.last(
        F.when(F.col("day_cents").isNotNull(), F.struct("day", "day_cents")),
        ignorenulls=True,
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    nxt = F.first(
        F.when(F.col("day_cents").isNotNull(), F.struct("day", "day_cents")),
        ignorenulls=True,
    ).over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    withends = dense.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "day_cents",
        prev.alias("p"),
        nxt.alias("n"),
        F.datediff(F.col("day"), prev.getField("day")).alias("d_prev"),
        F.datediff(nxt.getField("day"), F.col("day")).alias("d_next"),
    )
    # weighted-average form: the numerator is non-negative (cents >= 0),
    # so integer division agrees between Spark's DIV (truncate) and
    # DuckDB's // (floor) — the delta form would differ on negatives
    interp = F.when(F.col("day_cents").isNotNull(), F.col("day_cents")).otherwise(
        F.expr(
            "(p.day_cents * d_next + n.day_cents * d_prev) DIV (d_prev + d_next)"
        )
    )
    return withends.select(
        "event_type",
        "day",
        interp.alias("filled_cents"),
        F.col("day_cents").isNull().alias("interpolated"),
    )


_INTERP_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(TRY_CAST(ROUND((CASE WHEN value BETWEEN -1.0e12 AND 1.0e12
                                   THEN value END) * 100) AS BIGINT))
              AS BIGINT) AS day_cents
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
), calendar AS (
  SELECT event_type, CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
), dense AS (
  SELECT c.event_type, c.day, d.day_cents
  FROM calendar c LEFT JOIN daily d
    ON c.event_type = d.event_type AND c.day = d.day
), ends AS (
  SELECT event_type, day, day_cents,
         last_value(CASE WHEN day_cents IS NOT NULL THEN day END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_day,
         last_value(CASE WHEN day_cents IS NOT NULL THEN day_cents END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_cents,
         first_value(CASE WHEN day_cents IS NOT NULL THEN day END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_day,
         first_value(CASE WHEN day_cents IS NOT NULL THEN day_cents END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_cents
  FROM dense
)
SELECT event_type,
       strftime(day, '%Y-%m-%d') AS day,
       CAST(CASE WHEN day_cents IS NOT NULL THEN day_cents
                 ELSE (p_cents * (n_day - day) + n_cents * (day - p_day))
                      // (n_day - p_day)
            END AS BIGINT) AS filled_cents,
       day_cents IS NULL AS interpolated
FROM ends
"""


# ---------------------------------------------------------------------------
# MAD outliers (robust statistics on the exact-rank primitive)
# ---------------------------------------------------------------------------


def _exact_median_2x(ranked: DataFrame, counts: DataFrame, value_col: str,
                     out_col: str) -> DataFrame:
    """Per-group 2x-median from a ``global_rank``-ed frame: pick the
    middle rank(s); odd counts double the single middle value so the
    result is an exact integer either way."""
    lo = F.expr("(__n + 1) DIV 2")
    hi = F.expr("(__n + 2) DIV 2")
    return (
        ranked.join(F.broadcast(counts), "o_orderstatus")
        .where((F.col("rank") == lo) | (F.col("rank") == hi))
        .groupBy("o_orderstatus")
        .agg(
            F.sum(
                F.col(value_col) * F.when(lo == hi, F.lit(2)).otherwise(F.lit(1))
            ).alias(out_col)
        )
    )


#   * ``anomaly_mad_outliers`` — median-absolute-deviation outlier
#     detection per order status, built on TWO passes of the library's
#     ``global_rank(partition_by=...)`` primitive (exact median of the
#     values, then exact median of the absolute deviations). All math
#     stays in scaled integers (2x / 4x units) so the result is
#     bit-identical at any parallelism — the robust-statistics shape
#     (median/MAD beats mean/stddev under heavy tails) that a quality
#     gate over 100 TB of training data actually needs.
def anomaly_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total deviates from their status-group median by
    more than 5 MADs, counted per status. Medians are EXACT and
    distributed (``global_rank`` range-partitions; no per-group value
    buffers, no single-partition window), and every comparison is in
    scaled integers: ``median_2x_cents`` is twice the median (so
    even-count middles stay integral), ``mad_4x_cents`` is four times
    the MAD (the deviations are already doubled), and the outlier
    rule |x - med| > 5 * MAD becomes 2*dev > 5*mad2 — associative
    integer math, identical at any parallelism or engine.

    Hostile-ingest rules (round-10 layer 2): cents are money-domain
    bounded (the 2x/5x products overflow INT64 on a castable absurd
    value — DuckDB throws, Spark wraps) and NULL cents never enter
    the order statistic (engine NULL-ordering differs; a corrupt
    price has no rank). Both rules are the same predicate in the
    oracle below."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderstatus",
            money_rounded("o_totalprice").alias("p"),
        )
        .where(F.col("p").isNotNull())
    )
    counts = orders.groupBy("o_orderstatus").agg(F.count("*").alias("__n"))
    ranked = global_rank(orders, ["p"], partition_by=["o_orderstatus"])
    # med/mad are |statuses|-row relations but sit on expensive rank
    # subtrees with multiple downstream consumers — without a persist
    # the dev->mad->final chain re-executes the rank pipeline
    # multiplicatively (measured 9.3s -> 1.4s at sf0.1).
    med = track_persist(_exact_median_2x(ranked, counts, "p", "med2"))

    dev = track_persist(
        orders.join(F.broadcast(med), "o_orderstatus")
        .select(
            "o_orderstatus",
            F.abs(F.lit(2) * F.col("p") - F.col("med2")).alias("d"),
        )
    )
    ranked_dev = global_rank(dev, ["d"], partition_by=["o_orderstatus"])
    mad = track_persist(_exact_median_2x(ranked_dev, counts, "d", "mad2"))

    return (
        dev.join(F.broadcast(mad), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.when(F.lit(2) * F.col("d") > F.lit(5) * F.col("mad2"), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
        .join(F.broadcast(med), "o_orderstatus")
        .join(F.broadcast(mad), "o_orderstatus")
        .select(
            "o_orderstatus",
            "n_orders",
            F.col("med2").cast("bigint").alias("median_2x_cents"),
            F.col("mad2").cast("bigint").alias("mad_4x_cents"),
            "n_outliers",
        )
    )


_MAD_SQL = f"""
WITH o AS (
  SELECT o_orderstatus, p FROM (
    SELECT o_orderstatus, {money_rounded_sql('o_totalprice')} AS p
    FROM orders
  ) WHERE p IS NOT NULL
), r1 AS (
  SELECT o_orderstatus, p,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY p) AS rk,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM o
), med AS (
  SELECT o_orderstatus,
         CAST(SUM(p * CASE WHEN (n+1)//2 = (n+2)//2 THEN 2 ELSE 1 END)
              AS BIGINT) AS med2
  FROM r1 WHERE rk IN ((n+1)//2, (n+2)//2) GROUP BY o_orderstatus
), dev AS (
  SELECT o.o_orderstatus, ABS(2*o.p - m.med2) AS d
  FROM o JOIN med m USING (o_orderstatus)
), r2 AS (
  SELECT o_orderstatus, d,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY d) AS rk,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM dev
), mad AS (
  SELECT o_orderstatus,
         CAST(SUM(d * CASE WHEN (n+1)//2 = (n+2)//2 THEN 2 ELSE 1 END)
              AS BIGINT) AS mad2
  FROM r2 WHERE rk IN ((n+1)//2, (n+2)//2) GROUP BY o_orderstatus
)
SELECT dev.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MAX(med.med2) AS BIGINT) AS median_2x_cents,
       CAST(MAX(mad.mad2) AS BIGINT) AS mad_4x_cents,
       CAST(SUM(CASE WHEN 2*dev.d > 5*mad.mad2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev
JOIN mad USING (o_orderstatus)
JOIN med USING (o_orderstatus)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Weekday seasonality (integer ppm index)
# ---------------------------------------------------------------------------


#   * ``ts_weekday_seasonality`` — day-of-week seasonal profile per
#     event type with an integer ppm seasonal index (observed share vs
#     the uniform 1/7 expectation).
def ts_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: how each ISO weekday's event share compares to
    the uniform 1/7 expectation, as an integer parts-per-million index
    (1_000_000 = exactly at expectation). One narrow aggregate plus a
    broadcast of the per-type totals; no floats anywhere."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy(
        "event_type",
        F.expr("CAST(extract(DAYOFWEEK_ISO FROM ts) AS BIGINT)").alias("iso_dow"),
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(cents(F.col("value"))).alias("value_cents"),
    )
    tot = per.groupBy("event_type").agg(F.sum("n_events").alias("__tot"))
    return (
        per.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "iso_dow",
            "n_events",
            "value_cents",
            F.expr("1000000 * n_events DIV __tot").alias("share_ppm"),
            F.expr("1000000 * n_events * 7 DIV __tot").alias("seasonal_index_ppm"),
        )
    )


_SEASONALITY_SQL = """
WITH per AS (
  SELECT event_type,
         CAST(isodow(ts) AS BIGINT) AS iso_dow,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS tot FROM per GROUP BY 1
)
SELECT per.event_type, iso_dow, n_events, value_cents,
       CAST(1000000 * n_events // tot AS BIGINT) AS share_ppm,
       CAST(1000000 * n_events * 7 // tot AS BIGINT) AS seasonal_index_ppm
FROM per JOIN tot USING (event_type)
"""


# ---------------------------------------------------------------------------
# OHLC bars
# ---------------------------------------------------------------------------

_BAR_US = 6 * 3600 * 1_000_000


#   * ``ts_ohlc_bars`` — OHLC downsampling: 6-hour bars per event type
#     with open/high/low/close/volume. Open/close are picked by
#     row_number over (ts, event_id) so ties are deterministic; one
#     exchange on (type, bar).
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6h OHLC bars per event type. First/last are row_number picks
    over (ts, event_id) — deterministic under ties and identical in
    both engines; high/low/volume are plain integer aggregates. One
    exchange on (event_type, bar)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        cents(F.col("value")).alias("v_cents"),
    ).withColumn("bar_us", F.expr(f"(ts_us DIV {_BAR_US}) * {_BAR_US}"))
    w = Window.partitionBy("event_type", "bar_us")
    marked = (
        ev.withColumn(
            "rn_open", F.row_number().over(w.orderBy("ts_us", "event_id"))
        )
        .withColumn(
            "rn_close",
            F.row_number().over(w.orderBy(F.desc("ts_us"), F.desc("event_id"))),
        )
    )
    return marked.groupBy("event_type", "bar_us").agg(
        F.max(F.when(F.col("rn_open") == 1, F.col("v_cents"))).alias("open_cents"),
        F.max("v_cents").alias("high_cents"),
        F.min("v_cents").alias("low_cents"),
        F.max(F.when(F.col("rn_close") == 1, F.col("v_cents"))).alias("close_cents"),
        F.sum("v_cents").alias("volume_cents"),
        F.count("*").alias("n_events"),
    )


_OHLC_SQL = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
         TRY_CAST(ROUND(value * 100) AS BIGINT) AS v_cents,
         (epoch_us(ts) // {_BAR_US}) * {_BAR_US} AS bar_us
  FROM events
), marked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type, bar_us
                            ORDER BY ts_us, event_id) AS rn_open,
         ROW_NUMBER() OVER (PARTITION BY event_type, bar_us
                            ORDER BY ts_us DESC, event_id DESC) AS rn_close
  FROM ev
)
SELECT event_type, bar_us,
       CAST(MAX(CASE WHEN rn_open = 1 THEN v_cents END) AS BIGINT)
         AS open_cents,
       MAX(v_cents) AS high_cents,
       MIN(v_cents) AS low_cents,
       CAST(MAX(CASE WHEN rn_close = 1 THEN v_cents END) AS BIGINT)
         AS close_cents,
       CAST(SUM(v_cents) AS BIGINT) AS volume_cents,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM marked
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Point-in-time dimension join
# ---------------------------------------------------------------------------

_DAY_US = 86_400 * 1_000_000


# ---------------------------------------------------------------------------
# Classical additive seasonal decomposition
# ---------------------------------------------------------------------------
# daily cents -> trend = centered 7-day mean over a CALENDAR range
# frame (missing days make the frame partial; only full weeks emit a
# trend) -> detrended_sev = 7*cents - trend_sum (integer: scaling by
# 7 avoids the /7) -> per-weekday seasonal = mean(detrended)/1, in
# milli-cents via integer division by 7*n.

_SD_CORE = """
WITH daily AS (
  SELECT {dayidx} AS di,
         SUM(TRY_CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM {orders} GROUP BY o_orderdate
), w AS (
  SELECT di, cents,
         SUM(cents) OVER (ORDER BY di
             RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win_sum,
         COUNT(*) OVER (ORDER BY di
             RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win_n
  FROM daily
), det AS (
  SELECT di % 7 + 1 AS iso_dow,
         7 * cents - win_sum AS detrended_sev
  FROM w WHERE win_n = 7
)
SELECT CAST(iso_dow AS BIGINT) AS iso_dow,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CAST(detrended_sev AS {big})) * 1000
            {idiv} (7 * COUNT(*)) AS BIGINT) AS seasonal_milli_cents
FROM det GROUP BY iso_dow
ORDER BY iso_dow
"""


#   * ``ts_seasonal_decompose`` — classical additive decomposition of
#     daily order revenue: centered 7-day moving-average trend
#     (calendar RANGE frame, full weeks only), integer detrended
#     values scaled by 7 so nothing leaves the integers, per-weekday
#     seasonal component in exact milli-cents.
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ISO-weekday seasonal component of daily order revenue
    under a classical additive decomposition: trend is a centered
    7-day mean over a CALENDAR range frame (only complete weeks
    contribute), the detrended series is scaled by 7 so it stays
    integral, and the seasonal mean is exact milli-cents by integer
    division. ONE fact scan; every window runs over the tiny daily
    relation. Day index anchors at 1990-01-01 (a Monday), so
    ``di % 7 + 1`` is the ISO weekday."""
    return bind_sql(
        spark,
        _SD_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        dayidx="datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01')",
        big="DECIMAL(38,0)",
        idiv="DIV",
    )


_SD_DUCK = _SD_CORE.format(
    orders="orders",
    dayidx="CAST(o_orderdate AS DATE) - DATE '1990-01-01'",
    big="HUGEINT",
    idiv="//",
)


_CIRC_CORE = f"""
WITH e AS (
  SELECT event_type, ({{epoch_us}}) % {_DAY_US} AS us FROM {{events}}
), t AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(CAST(floor(sin(us * 2 * pi() / {_DAY_US}.0) * 1e9)
                  AS {{big}})) AS ssum,
         SUM(CAST(floor(cos(us * 2 * pi() / {_DAY_US}.0) * 1e9)
                  AS {{big}})) AS csum
  FROM e GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       CAST(floor(atan2(CAST(ssum AS DOUBLE), CAST(csum AS DOUBLE))
                  * 1000) AS BIGINT) AS mean_angle_milli_rad,
       CAST(floor(((atan2(CAST(ssum AS DOUBLE), CAST(csum AS DOUBLE))
                    + 2 * pi()) % (2 * pi())) / (2 * pi()) * 86400)
            AS BIGINT) AS mean_second_of_day,
       CAST(floor(sqrt(CAST(ssum AS DOUBLE) * ssum
                       + CAST(csum AS DOUBLE) * csum)
                  / (CAST(n AS DOUBLE) * 1e9) * 1e6)
            AS BIGINT) AS resultant_ppm
FROM t
ORDER BY event_type
"""


#   * ``ts_circular_time_stats`` — circular mean / resultant length of
#     event time-of-day per event type: naive averaging puts the mean
#     of 23:00 and 01:00 at noon; the circular mean (atan2 of summed
#     unit vectors) puts it at midnight. Per-row sin/cos are
#     nano-floored before the integer sums (order-independent,
#     engine-exact); one conditional-aggregate scan.
def ts_circular_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular mean time-of-day and resultant length per event type:
    each event contributes a unit vector at its day-angle; sin/cos
    are nano-floored PER ROW before the integer sums (the established
    order-independence idiom), so the aggregate is exact and
    partitioning-independent; atan2/sqrt run once per group on the
    summed integers. Resultant near 0 = activity spread around the
    clock; near 1e6 = concentrated at one time."""
    return bind_sql(
        spark,
        _CIRC_CORE,
        events=load_table(spark, sf_dir, "events"),
        epoch_us="unix_micros(ts)",
        big="DECIMAL(38,0)",
    )


_CIRC_DUCK = _CIRC_CORE.format(events="events", epoch_us="epoch_us(ts)",
                               big="HUGEINT")


# ---------------------------------------------------------------------------
# Fourier periodogram of daily activity
# ---------------------------------------------------------------------------

_PG_KMAX = 8


_PG_CORE = f"""
WITH daily AS (
  SELECT ({{epoch_us}}) {{idiv}} {_DAY_US} AS d, COUNT(*) AS c
  FROM {{events}}
  GROUP BY ({{epoch_us}}) {{idiv}} {_DAY_US}
), span AS (
  SELECT MIN(d) AS dmin, MAX(d) - MIN(d) + 1 AS n_days FROM daily
), terms AS (
  SELECT k,
         SUM(CAST(floor(c * cos(2 * pi() * k * (d - dmin) / n_days)
                        * 1e6) AS BIGINT)) AS a,
         SUM(CAST(floor(c * sin(2 * pi() * k * (d - dmin) / n_days)
                        * 1e6) AS BIGINT)) AS b
  FROM daily, span {{lat}}
  GROUP BY k
)
SELECT CAST(k AS INT) AS k,
       CAST(n_days * 100 {{idiv}} k AS BIGINT) AS period_centi_days,
       CAST((CAST(a AS {{big}}) * a + CAST(b AS {{big}}) * b)
            {{idiv}} 1000000 AS BIGINT) AS power_micro
FROM terms, span
ORDER BY k
"""


#   * ``ts_periodogram`` — discrete-Fourier periodogram of the daily
#     event-count series at wave numbers k=1..8: the dominant-period
#     detector behind seasonality checks. Per-row cos/sin terms are
#     micro-floored before exact integer sums; spectral power is exact
#     DECIMAL(38,0)/HUGEINT arithmetic. The heavy input is reduced to
#     one tiny daily rollup first, so the spectral pass costs
#     O(days x k) regardless of event volume.
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram of daily event counts at wave
    numbers k=1..{_PG_KMAX}: power_micro peaks at the series'
    dominant period (period_centi_days = span/k). The event stream
    collapses to ONE map-combined daily rollup (days x 1 rows), so
    the trig pass is O(days x k) whatever the event volume; per-row
    cos/sin terms are micro-floored before exact integer sums
    (order-independent), and the power square runs in DECIMAL(38,0)
    so no precision is lost before the final micro division."""
    return bind_sql(
        spark,
        _PG_CORE,
        events=load_table(spark, sf_dir, "events"),
        epoch_us="unix_micros(ts)",
        idiv="DIV",
        big="DECIMAL(38,0)",
        lat=f"LATERAL VIEW explode(sequence(1, {_PG_KMAX})) tk AS k",
    )


_PG_DUCK = _PG_CORE.format(
    events="events",
    epoch_us="epoch_us(ts)",
    idiv="//",
    big="HUGEINT",
    lat=f"CROSS JOIN range(1, {_PG_KMAX + 1}) tk(k)",
)


# ---------------------------------------------------------------------------
# Lead-lag cross-correlation
# ---------------------------------------------------------------------------

_XCORR_CORE = """
WITH daily AS (
  SELECT ({epoch_us}) {idiv} 86400000000 AS d,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM {events} WHERE ts IS NOT NULL GROUP BY 1
), lagged AS (
  SELECT x, y,
         LAG(x) OVER (ORDER BY d) AS xp,
         LAG(y) OVER (ORDER BY d) AS yp
  FROM daily
), inner_rows AS (
  SELECT * FROM lagged WHERE xp IS NOT NULL
), s AS (
  SELECT COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(xp) AS sxp, SUM(yp) AS syp,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
         SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
         SUM(CAST(xp AS DECIMAL(38,0)) * xp) AS sxpxp,
         SUM(CAST(yp AS DECIMAL(38,0)) * yp) AS sypyp,
         SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
         SUM(CAST(xp AS DECIMAL(38,0)) * y) AS sxpy,
         SUM(CAST(yp AS DECIMAL(38,0)) * x) AS sypx
  FROM inner_rows
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  * 1000000) AS BIGINT) AS corr_same_micro,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sxpy AS DOUBLE)
                   - CAST(sxp AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxpxp AS DOUBLE)
                          - CAST(sxp AS DOUBLE) * CAST(sxp AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  * 1000000) AS BIGINT) AS corr_views_lead_micro,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sypx AS DOUBLE)
                   - CAST(syp AS DOUBLE) * CAST(sx AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sypyp AS DOUBLE)
                          - CAST(syp AS DOUBLE) * CAST(syp AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                  * 1000000) AS BIGINT) AS corr_purchases_lead_micro
FROM s
"""


#   * ``ts_lead_lag_xcorr`` — which daily series leads: same-day,
#     views-lead and purchases-lead Pearson correlations over the
#     observed-day sequence from exact DECIMAL power sums.
def ts_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does view traffic lead purchases (or vice versa)? Pearson
    correlations at lag 0 and +/-1 day over the observed-day
    sequence: the event stream collapses to a daily (views,
    purchases) rollup first, LAG runs over that bounded relation
    (ts_periodogram's documented pattern), and all eleven power sums
    are exact integers — the three coefficients are fixed-shape
    floats micro-floored at the end. The triage query behind 'should
    the forecasting model include the other series as a feature'."""
    return bind_sql(
        spark,
        _XCORR_CORE,
        events=load_table(spark, sf_dir, "events"),
        epoch_us="unix_micros(ts)",
        idiv="DIV",
    )


_XCORR_DUCK = _XCORR_CORE.format(
    events="events", epoch_us="epoch_us(ts)", idiv="//"
)


# ---------------------------------------------------------------------------
# Exponential interarrival fit + KS distance
# ---------------------------------------------------------------------------

_KS_BIN_US = 3_600_000_000  # 1-hour bins


_EXPFIT_CORE = f"""
WITH ts AS (
  SELECT user_id, {{ts_us}} AS t_us, event_id FROM {{events}}
), dt AS (
  SELECT t_us - LAG(t_us) OVER (PARTITION BY user_id
                                ORDER BY t_us, event_id) AS dt_us
  FROM ts
), dts AS (
  SELECT dt_us FROM dt WHERE dt_us IS NOT NULL
), s AS (
  SELECT COUNT(*) AS n, SUM(dt_us) AS tot_us FROM dts
), bins AS (
  SELECT dt_us {{idiv}} {_KS_BIN_US} AS bin, COUNT(*) AS c FROM dts
  GROUP BY dt_us {{idiv}} {_KS_BIN_US}
), cum AS (
  SELECT bin, SUM(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
           AS cum_c
  FROM bins
), d AS (
  SELECT MAX(CAST(floor(abs(CAST(cum_c AS DOUBLE) / n
                   - (1 - exp(-(CAST(bin AS DOUBLE) + 1) * {_KS_BIN_US}
                              * n / tot_us)))
                 * 1000000) AS BIGINT)) AS ks_d_micro
  FROM cum CROSS JOIN s
)
SELECT CAST(n AS BIGINT) AS n_intervals,
       CAST(tot_us {{idiv}} n AS BIGINT) AS mean_dt_us,
       CAST(floor(86400000000.0 * n / tot_us * 1000) AS BIGINT)
         AS lambda_per_day_milli,
       ks_d_micro
FROM s CROSS JOIN d
"""


#   * ``ts_exponential_fit_ks`` — exponential MLE over per-user event
#     interarrivals plus a KS-style distance evaluated on bounded
#     hour bins (per-bin |F_emp − F_model| floored to micros, then
#     MAX — order-safe).  The 'is this a Poisson process' check
#     behind arrival-rate anomaly alerts.
def ts_exponential_fit_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential MLE over per-user event interarrivals (λ̂ = n/Σdt
    — the mean is an exact integer division of microsecond sums)
    plus a KS-style goodness-of-fit distance evaluated at 1-hour bin
    edges: per-bin |F_emp − (1 − e^{{-λt}})| floored to micros, then
    MAX — max is order-immune, so the one float expression per
    bounded bin cannot drift between engines.  The interarrival
    window partitions by user (distributed), the bin histogram is
    bounded by the observation span, and the cumsum runs over that
    bounded relation — the 'is this arrival process Poisson' check
    that decides whether a rate-spike alert threshold is valid."""
    return bind_sql(
        spark,
        _EXPFIT_CORE,
        events=load_table(spark, sf_dir, "events"),
        ts_us="unix_micros(ts)",
        idiv="DIV",
    )


_EXPFIT_DUCK = _EXPFIT_CORE.format(
    events="events", ts_us="epoch_us(ts)", idiv="//"
)


# ---------------------------------------------------------------------------
# Gumbel block maxima
# ---------------------------------------------------------------------------

_EULER_GAMMA = "0.5772156649015329"


_GUMBEL_T = 52


_GUMBEL_CORE = f"""
WITH daily AS (
  -- bounded cents + business-date validity (round-10 layer 2, same
  -- rationale as window_bollinger_bands)
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM({money_rounded_sql('o_totalprice')}) AS x
  FROM {{orders}} WHERE {tpch_date_valid_sql('o_orderdate')}
  GROUP BY CAST(o_orderdate AS DATE)
), idx AS (
  SELECT x, (ROW_NUMBER() OVER (ORDER BY d) - 1) {{idiv}} 7 AS wk
  FROM daily
), blocks AS (
  SELECT wk, MAX(x) AS m FROM idx GROUP BY wk
), s AS (
  SELECT COUNT(*) AS n, SUM(m) AS s1,
         SUM(CAST(m AS DECIMAL(38,0)) * m) AS s2
  FROM blocks
), fit AS (
  SELECT n, s1 {{idiv}} n AS mean_cents,
         sqrt((CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * s1)
              / (CAST(n AS DOUBLE) * (n - 1))) AS sd,
         CAST(s1 AS DOUBLE) / n AS meanf
  FROM s
)
SELECT CAST(n AS BIGINT) AS n_blocks,
       CAST(mean_cents AS BIGINT) AS mean_max_cents,
       CAST(floor(sd) AS BIGINT) AS sd_max_cents,
       CAST(floor(sd * sqrt(6.0) / pi()) AS BIGINT) AS beta_cents,
       CAST(floor(meanf - {_EULER_GAMMA} * sd * sqrt(6.0) / pi())
            AS BIGINT) AS mu_cents,
       CAST(floor(meanf - {_EULER_GAMMA} * sd * sqrt(6.0) / pi()
                  - sd * sqrt(6.0) / pi()
                    * ln(-ln(1e0 - 1e0 / {_GUMBEL_T})))
            AS BIGINT) AS return_level_{_GUMBEL_T}_cents
FROM fit
"""


#   * ``ts_extreme_value_gumbel`` — Gumbel fit to weekly block maxima
#     of daily order revenue by the method of moments (closed form, no
#     iteration), with the 52-block return level: the 'how bad is a
#     one-year peak' question asked of any load or spend series.
def ts_extreme_value_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit to weekly block maxima of daily
    order revenue by the method of moments (β = s√6/π,
    μ = m̄ − γβ — closed form, no MLE iteration), plus the 52-block
    return level μ − β·ln(−ln(1−1/52)): the magnitude a once-a-year
    peak is expected to reach.  Block maxima and the two power sums
    are exact integers; the fit is a handful of fixed-shape floats.
    The daily and weekly relations are date-span-bounded."""
    return bind_sql(
        spark,
        _GUMBEL_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        idiv="DIV",
    )


_GUMBEL_DUCK = _GUMBEL_CORE.format(orders="orders", idiv="//")


# ---------------------------------------------------------------------------
# EWMA control chart
# ---------------------------------------------------------------------------

_EWMA_MAXLAG = 62  # beyond 62 shifts a milli-scaled int64 term is 0


_EWMACC_CORE = f"""
WITH daily AS (
  SELECT {{epoch_us}} {{idiv}} 86400000000 AS d, COUNT(*) AS x
  FROM {{events}} WHERE ts IS NOT NULL
  GROUP BY {{epoch_us}} {{idiv}} 86400000000
), idx AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily
), stats AS (
  SELECT COUNT(*) AS n, SUM(x) AS s1,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS s2
  FROM idx
), ew AS (
  SELECT a.i, a.x,
         SUM(CASE WHEN b.i > 1 THEN {{shr}} ELSE 0 END) AS tail_sum,
         SUM(CASE WHEN b.i = 1 AND a.i - 1 <= {_EWMA_MAXLAG}
                  THEN {{shr_init}} ELSE 0 END) AS init_term
  FROM idx a
  JOIN idx b ON b.i <= a.i AND b.i > a.i - {_EWMA_MAXLAG}
  GROUP BY a.i, a.x
), lim AS (
  SELECT CAST(floor((CAST(s1 AS DOUBLE) / n
                     + 3 * sqrt((CAST(s2 AS DOUBLE) * n
                                 - CAST(s1 AS DOUBLE) * s1)
                                / (CAST(n AS DOUBLE) * n)
                                / 3.0))
                    * 1000) AS BIGINT) AS upper_milli,
         CAST(floor((CAST(s1 AS DOUBLE) / n
                     - 3 * sqrt((CAST(s2 AS DOUBLE) * n
                                 - CAST(s1 AS DOUBLE) * s1)
                                / (CAST(n AS DOUBLE) * n)
                                / 3.0))
                    * 1000) AS BIGINT) AS lower_milli
  FROM stats
)
SELECT CAST(i AS BIGINT) AS day_idx,
       CAST(x AS BIGINT) AS n_events,
       CAST(tail_sum + init_term AS BIGINT) AS ewma_milli,
       upper_milli, lower_milli,
       CAST(CASE WHEN tail_sum + init_term > upper_milli THEN 1
                 WHEN tail_sum + init_term < lower_milli THEN -1
                 ELSE 0 END AS BIGINT) AS out_of_control
FROM ew CROSS JOIN lim
ORDER BY day_idx
"""


#   * ``ts_ewma_control_chart`` — EWMA control chart (α=1/2, L=3)
#     over daily event counts: the running EWMA is the bit-shift-
#     exact integer construction of `window_ewma_spend` applied at
#     every time point (a 62-lag banded self-join over the bounded
#     daily relation, NOT a quadratic blow-up), and the control
#     limits use the asymptotic EWMA σ·√(α/(2−α)).
def ts_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (α=1/2, L=3) over daily event counts: the
    running EWMA at every day is the bit-shift-exact integer
    construction of `window_ewma_spend` — z_t = Σ x_s·2^(t−s+1 shifts)
    with the first observation carrying the residual weight — built
    by a 62-lag BANDED self-join over the date-span-bounded daily
    relation (terms beyond 62 shifts are integer zero, so the band
    is exact, not an approximation).  Control limits use the
    asymptotic EWMA deviation σ·√(α/(2−α)) = σ/√3 from exact power
    sums; the -1/0/+1 flag compares integers against the floored
    limits."""
    return bind_sql(
        spark,
        _EWMACC_CORE,
        events=load_table(spark, sf_dir, "events"),
        epoch_us="unix_micros(ts)",
        idiv="DIV",
        shr="shiftright(b.x * 1000, CAST(a.i - b.i + 1 AS INT))",
        shr_init="shiftright(b.x * 1000, CAST(a.i - 1 AS INT))",
    )


_EWMACC_DUCK = _EWMACC_CORE.format(
    events="events",
    epoch_us="epoch_us(ts)",
    idiv="//",
    shr="((b.x * 1000) >> CAST(a.i - b.i + 1 AS INT))",
    shr_init="((b.x * 1000) >> CAST(a.i - 1 AS INT))",
)


# ---------------------------------------------------------------------------
# Hurst exponent (rescaled range)
# ---------------------------------------------------------------------------

_HURST_MS = (8, 16, 32, 64)


_HURST_CORE = """
WITH daily AS (
  -- business-date validity (round-10 layer 2): a NULL/out-of-window
  -- date has no position on the day axis (engine NULL ordering
  -- differs in the ROW_NUMBER walk, re-blocking the whole series)
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS x
  FROM {orders} WHERE """ + tpch_date_valid_sql("o_orderdate") + """
  GROUP BY CAST(o_orderdate AS DATE)
), idx AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM daily
), expanded AS (
  SELECT m.m, (rn - 1) {idiv} m.m AS blk,
         ROW_NUMBER() OVER (PARTITION BY m.m, (rn - 1) {idiv} m.m
                            ORDER BY rn) AS i,
         COUNT(*) OVER (PARTITION BY m.m, (rn - 1) {idiv} m.m) AS bn,
         SUM(x) OVER (PARTITION BY m.m, (rn - 1) {idiv} m.m) AS s1,
         SUM(CAST(x AS DECIMAL(38,0)) * x)
           OVER (PARTITION BY m.m, (rn - 1) {idiv} m.m) AS s2,
         SUM(x) OVER (PARTITION BY m.m, (rn - 1) {idiv} m.m
                      ORDER BY rn ROWS UNBOUNDED PRECEDING) AS cum
  FROM idx CROSS JOIN ({ms}) m
), devs AS (
  SELECT m, blk, bn, s1, s2,
         m * cum - i * s1 AS dev_scaled
  FROM expanded WHERE bn = m
), blocks AS (
  SELECT m, blk, MAX(s1) AS s1, MAX(s2) AS s2,
         MAX(dev_scaled) - LEAST(MIN(dev_scaled), 0) AS r_scaled
  FROM devs GROUP BY m, blk
), rs AS (
  SELECT m,
         CAST(floor(CAST(r_scaled AS DOUBLE)
                    / sqrt(CAST(m AS DOUBLE) * CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * s1)
                    * 1000000) AS BIGINT) AS rs_micro
  FROM blocks
  WHERE m * CAST(s2 AS DECIMAL(38,0)) - CAST(s1 AS DECIMAL(38,0)) * s1 > 0
), per_m AS (
  SELECT m, COUNT(*) AS n_blocks,
         SUM(rs_micro) {idiv} COUNT(*) AS mean_rs_micro
  FROM rs GROUP BY m
), piv AS (
  SELECT MAX(CASE WHEN m = 8 THEN mean_rs_micro END) AS y8,
         MAX(CASE WHEN m = 16 THEN mean_rs_micro END) AS y16,
         MAX(CASE WHEN m = 32 THEN mean_rs_micro END) AS y32,
         MAX(CASE WHEN m = 64 THEN mean_rs_micro END) AS y64,
         SUM(n_blocks) AS n_blocks_total
  FROM per_m
)
SELECT CAST(n_blocks_total AS BIGINT) AS n_blocks,
       CAST(y8 AS BIGINT) AS rs8_micro,
       CAST(y16 AS BIGINT) AS rs16_micro,
       CAST(y32 AS BIGINT) AS rs32_micro,
       CAST(y64 AS BIGINT) AS rs64_micro,
       CAST(floor(
         ((ln(CAST(y8 AS DOUBLE) / 1e6) * ln(8e0)
           + ln(CAST(y16 AS DOUBLE) / 1e6) * ln(16e0)
           + ln(CAST(y32 AS DOUBLE) / 1e6) * ln(32e0)
           + ln(CAST(y64 AS DOUBLE) / 1e6) * ln(64e0)) * 4
          - (ln(CAST(y8 AS DOUBLE) / 1e6) + ln(CAST(y16 AS DOUBLE) / 1e6)
             + ln(CAST(y32 AS DOUBLE) / 1e6) + ln(CAST(y64 AS DOUBLE) / 1e6))
            * (ln(8e0) + ln(16e0) + ln(32e0) + ln(64e0)))
         / ((ln(8e0) * ln(8e0) + ln(16e0) * ln(16e0)
             + ln(32e0) * ln(32e0) + ln(64e0) * ln(64e0)) * 4
            - (ln(8e0) + ln(16e0) + ln(32e0) + ln(64e0))
              * (ln(8e0) + ln(16e0) + ln(32e0) + ln(64e0)))
         * 1000) AS BIGINT) AS hurst_milli
FROM piv
"""


#   * ``ts_hurst_exponent`` — rescaled-range (R/S) Hurst estimate of
#     the daily order-count series over dyadic block sizes 8/16/32/64.
#     Per-block cumulative deviations are m-SCALED so they stay exact
#     integers (m·cumsum − i·Σx); each block contributes one
#     fixed-shape float R/S floored to micro units BEFORE the integer
#     per-size mean, and the final log-log slope is a closed form over
#     the four PIVOTED size columns — no float aggregation anywhere.
def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range Hurst exponent of daily order counts (H≈0.5
    ⇒ no long memory; >0.5 ⇒ persistent trends): R/S per dyadic
    block of 8/16/32/64 days, then the log-log slope.  Cumulative
    deviations are m-scaled integers (m·cumsum − i·Σx), each
    block's R/S is one fixed-shape float floored to micro before an
    INTEGER per-size mean, and the slope is a closed-form
    expression over the four pivoted columns — explicit term order,
    DOUBLE literals, no float SUM whose order an engine could
    choose.  The daily relation is date-span-bounded; the 4× block
    expansion stays bounded with it."""
    ms = " UNION ALL ".join(f"SELECT {m} AS m" for m in _HURST_MS)
    return bind_sql(
        spark,
        _HURST_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        ms=ms,
        idiv="DIV",
    )


_HURST_DUCK = _HURST_CORE.format(
    orders="orders",
    ms=" UNION ALL ".join(f"SELECT {m} AS m" for m in _HURST_MS),
    idiv="//",
)


QUERIES = {
    "interp_linear_fill": interp_linear_fill,
    "anomaly_mad_outliers": anomaly_mad_outliers,
    "ts_weekday_seasonality": ts_weekday_seasonality,
    "ts_ohlc_bars": ts_ohlc_bars,
    "ts_seasonal_decompose": ts_seasonal_decompose,
    "ts_circular_time_stats": ts_circular_time_stats,
    "ts_periodogram": ts_periodogram,
    "ts_lead_lag_xcorr": ts_lead_lag_xcorr,
    "ts_exponential_fit_ks": ts_exponential_fit_ks,
    "ts_extreme_value_gumbel": ts_extreme_value_gumbel,
    "ts_ewma_control_chart": ts_ewma_control_chart,
    "ts_hurst_exponent": ts_hurst_exponent,
}

ORACLE = {
    "interp_linear_fill": _INTERP_SQL,
    "anomaly_mad_outliers": _MAD_SQL,
    "ts_weekday_seasonality": _SEASONALITY_SQL,
    "ts_ohlc_bars": _OHLC_SQL,
    "ts_seasonal_decompose": _SD_DUCK,
    "ts_circular_time_stats": _CIRC_DUCK,
    "ts_periodogram": _PG_DUCK,
    "ts_lead_lag_xcorr": _XCORR_DUCK,
    "ts_exponential_fit_ks": _EXPFIT_DUCK,
    "ts_extreme_value_gumbel": _GUMBEL_DUCK,
    "ts_ewma_control_chart": _EWMACC_DUCK,
    "ts_hurst_exponent": _HURST_DUCK,
}
