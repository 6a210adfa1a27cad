"""Reusable operator API — the generic forms of the patterns the
contract queries instantiate. A user of the engine composes these on
their own tables; each is a pure DataFrame-plan builder (no collects,
no UDFs) and scales the same way the audited query plans do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import track_persist

# Kept for perfbench/client.py, which counts ``library._RANK_PERSISTS``;
# the rank fences now sit in ``cache._EPHEMERAL``.
_RANK_PERSISTS: tuple = ()


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join: for every left row, the latest right row
    with ``right_ts <= left_ts`` within the same ``by`` key.

    Implemented as a tagged union + one ordered window over the key —
    a single shuffle and linear work, never an N x M expansion (the
    scalable alternative to per-key merge_asof). The full left row
    rides through the union, so the output is structurally one row per
    left row (no join-back that would multiply duplicate (by, ts)
    left rows) and the whole operator is a single exchange.
    Right-side values arrive via a max-of-struct so ties on the
    timestamp resolve to the greatest value tuple (deterministic).
    """
    value_cols = value_cols or []
    payload = F.struct(
        F.col(right_ts).alias("__rts"), *[F.col(c) for c in value_cols]
    )
    rtag = right.select(
        F.col(by).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__kind"),
        payload.alias("__payload"),
    )
    payload_t = rtag.schema["__payload"].dataType
    # right rows carry NULLs for the left columns; left rows carry a
    # NULL payload (max() ignores nulls, so only right rows can match)
    rtag = rtag.select(
        "__k",
        "__ts",
        "__kind",
        "__payload",
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in left.schema.fields],
    )
    ltag = left.select(
        F.col(by).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__kind"),
        F.lit(None).cast(payload_t).alias("__payload"),
        "*",
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__kind")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        rtag.unionByName(ltag)
        .withColumn("__match", F.max("__payload").over(w))
        .where(F.col("__kind") == 1)
        .select(
            *[F.col(f.name) for f in left.schema.fields],
            F.col("__match.__rts").alias("asof_ts"),
            *[F.col(f"__match.{c}").alias(f"asof_{c}") for c in value_cols],
        )
    )
    return out


def topk_per_group(
    df: DataFrame, group_cols: list[str], order_by: list[Column], k: int
) -> DataFrame:
    """Top-k rows per group via row_number; plans with WindowGroupLimit
    so each map task ships at most k rows per group before the shuffle.
    Include a unique tiebreaker in ``order_by`` for determinism."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def sessionize(
    df: DataFrame, key: str, ts: str, gap_seconds: int
) -> DataFrame:
    """Gap-based sessionization (batch form of session_window): rows
    get a ``session_id`` per key, where a gap >= ``gap_seconds`` opens
    a new session. One shuffle on the key."""
    w = Window.partitionBy(key).orderBy(ts)
    gap_us = gap_seconds * 1_000_000
    prev = F.lag(F.unix_micros(F.col(ts))).over(w)
    new_s = F.when(
        prev.isNull() | (F.unix_micros(F.col(ts)) - prev >= gap_us), 1
    ).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


def locf_fill(
    df: DataFrame, key: str, order_by: list[str], value: str
) -> DataFrame:
    """Last-observation-carried-forward gap fill: NULLs in ``value``
    take the most recent non-null observation within the key's ordered
    stream (``last(..., ignorenulls)`` over a running frame). One
    shuffle on the key; O(1) state per row. Adds ``<value>_filled``."""
    w = (
        Window.partitionBy(key)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        f"{value}_filled", F.last(value, ignorenulls=True).over(w)
    )


def pack_sequences(
    df: DataFrame,
    stream_col: str,
    order_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Concat-then-chunk sequence packing (the LLM pretraining layout):
    rows are concatenated per ``stream_col`` in ``order_col`` order and
    the token stream is cut into ``budget``-sized blocks; each row gets
    the ``seq_id`` of the block where it starts. One window cumsum per
    stream; at scale the per-stream prefix sum composes from partition
    subtotals."""
    w = (
        Window.partitionBy(stream_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(token_col).over(w) - F.col(token_col)
    # decimal, not double, division: the cumulative token count of a
    # large stream exceeds 2^53 and float division would misplace
    # block boundaries
    seq = F.floor(start.cast("decimal(38,0)") / F.lit(budget)).cast("bigint")
    return df.withColumn("seq_id", seq)


# Auto-sizing target: rows per range partition when the caller doesn't
# pin `partitions`. 2^26 (~67M) narrow rows is a few GB sorted in one
# task — comfortably inside executor memory — and sits a factor of 128
# below the 2^33 monotonically_increasing_id counter bound, so the
# fail-fast guard below can never fire on an auto-sized rank.
_RANK_TARGET_ROWS_PER_PARTITION = 1 << 26


def global_rank(
    df: DataFrame,
    order_by: list[str],
    partitions: int | None = None,
    partition_by: list[str] | None = None,
    rows: int | None = None,
) -> DataFrame:
    """Exact global rank (1-based) over ``order_by`` with ONE fact
    exchange and NO global window: range partition (partitions are
    globally ordered), sort within each partition, read (partition,
    local offset) off ``monotonically_increasing_id``'s bit layout,
    then add broadcast per-partition offsets (a 1-row-per-partition
    relation). Adds a ``rank`` column. Include a unique tiebreaker in
    ``order_by`` for determinism. This is the scalable primitive
    behind equi-depth histograms, exact percentiles and pagination —
    a plain ``Window.orderBy`` would serialize the table through one
    task.

    ``partition_by`` ranks WITHIN each group instead (rank restarts at
    1 per group): the range partitioning is on (group, order) so each
    group spans a contiguous run of partitions, and the broadcast
    offset relation carries one row per (partition, group) — still
    bounded by partitions x |groups touched per partition boundary|.

    HARD BOUND: ``monotonically_increasing_id`` allocates 33 bits to
    the per-partition counter, so any single range partition holding
    more than 2^33 (~8.6e9) rows overflows the local counter into the
    partition bits and silently corrupts ranks. With ``partitions=None``
    (the default) the count is sized automatically from the input
    cardinality — ``rows`` if the caller already knows it, else one
    map-combined ``df.count()`` — at ``_RANK_TARGET_ROWS_PER_PARTITION``
    rows per partition (floored at the cluster's default parallelism),
    which keeps every partition 128x under the bound at any scale: at
    100 TB (~1e12 rows) that auto-sizes to ~15k partitions. Explicit
    ``partitions`` is still honored for plan-shape pinning; the guard
    below fails fast instead of corrupting if it's sized too low."""
    if partitions is None:
        n = df.count() if rows is None else rows
        partitions = max(
            df.sparkSession.sparkContext.defaultParallelism,
            -(-n // _RANK_TARGET_ROWS_PER_PARTITION),
            1,
        )
    keys = [*(partition_by or []), *order_by]
    # CORRECTNESS FENCE: both the offset aggregate and the final join
    # consume this relation. repartitionByRange draws SAMPLED
    # boundaries per execution, so two executions may disagree —
    # observed with a cached input under AQE: ranks silently corrupt
    # (values shift between runs). Persisting pins one materialization
    # (MEMORY_AND_DISK: eviction spills, never re-samples). Cost at
    # scale is one narrow cached copy of the projected key columns;
    # released by ``cache.release_caches``.
    numbered = track_persist(
        df.repartitionByRange(partitions, *[F.col(c) for c in keys])
        .sortWithinPartitions(*keys)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.expr("CAST(__mid DIV 8589934592 AS INT)"))
        .withColumn("__lrn", F.expr("__mid % 8589934592 + 1"))
    )
    if not partition_by:
        offsets = (
            numbered.groupBy("__pid")
            .agg(F.count("*").alias("count"), F.max("__lrn").alias("__maxl"))
            .withColumn(
                "__off",
                F.coalesce(
                    F.sum("count").over(
                        Window.orderBy("__pid").rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ),
            )
            # 2^33 overflow guard: a partition that filled the local
            # counter would wrap __lrn; surface it as a query error.
            .withColumn(
                "__off",
                F.when(
                    F.col("__maxl") >= F.lit(8589934592),
                    F.raise_error(
                        F.lit("global_rank: partition exceeded 2^33 rows; raise `partitions`")
                    ).cast("long"),
                ).otherwise(F.col("__off")),
            )
            .select("__pid", "__off")
        )
        return (
            numbered.join(F.broadcast(offsets), "__pid")
            .withColumn("rank", F.col("__off") + F.col("__lrn"))
            .drop("__mid", "__pid", "__lrn", "__off")
        )
    # Per-group form: a group's rows inside one physical partition are
    # contiguous (sorted by group first), so rank-in-group =
    # (__lrn - first __lrn of this (partition, group)) + 1 + (rows of
    # this group in EARLIER partitions). Both correction terms come
    # from one tiny (partition, group)-grained aggregate, broadcast
    # back — the fact table still moves through exactly one exchange.
    grp_stats = (
        numbered.groupBy("__pid", *partition_by)
        .agg(
            F.count("*").alias("__cnt"),
            F.min("__lrn").alias("__minl"),
            F.max("__lrn").alias("__maxl"),
        )
        .withColumn(
            "__minl",
            F.when(
                F.col("__maxl") >= F.lit(8589934592),
                F.raise_error(
                    F.lit("global_rank: partition exceeded 2^33 rows; raise `partitions`")
                ).cast("long"),
            ).otherwise(F.col("__minl")),
        )
        .withColumn(
            "__goff",
            F.coalesce(
                F.sum("__cnt").over(
                    Window.partitionBy(*partition_by)
                    .orderBy("__pid")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("__pid", *partition_by, "__minl", "__goff")
    )
    # null-safe group keys: a NULL group value is still a group (SQL
    # PARTITION BY semantics) — a plain equi-join would silently drop
    # every NULL-keyed row from the ranked output (round-10 hostile
    # probe, agg_exact_median_distributed). EqualNullSafe remains a
    # valid broadcast-hash-join key, so the plan shape is unchanged.
    gs = F.broadcast(
        grp_stats.select(
            F.col("__pid").alias("__g_pid"),
            *[F.col(c).alias(f"__g_{c}") for c in partition_by],
            "__minl",
            "__goff",
        )
    )
    cond = F.col("__pid") == F.col("__g_pid")
    for c in partition_by:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__g_{c}"))
    return (
        numbered.join(gs, cond)
        .withColumn(
            "rank", F.col("__lrn") - F.col("__minl") + F.lit(1) + F.col("__goff")
        )
        .drop(
            "__mid", "__pid", "__lrn", "__minl", "__goff", "__g_pid",
            *[f"__g_{c}" for c in partition_by],
        )
    )


def global_prefix_sum(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    partitions: int | None = None,
    rows: int | None = None,
    out_col: str = "prefix_sum",
) -> DataFrame:
    """Exact distributed running SUM(``value_col``) over ``order_by``
    (inclusive of the current row) with ONE range exchange and NO
    global window: sort within each range partition, take the local
    cumulative sum, and add the broadcast total of every earlier
    partition (a 1-row-per-partition relation). This is the scalable
    replacement for ``SUM(x) OVER (ORDER BY ...)`` — the weighted
    sibling of ``global_rank`` and the primitive behind large-domain
    midranks (Spearman/Mann-Whitney machinery when the distinct-value
    relation outgrows a single task). Include a unique tiebreaker in
    ``order_by`` for determinism; integer sums stay exact (cast
    ``value_col`` to DECIMAL first if it can overflow BIGINT).

    Sizing mirrors ``global_rank``: ``partitions=None`` auto-sizes
    from ``rows`` (or one map-combined ``df.count()``) at
    ``_RANK_TARGET_ROWS_PER_PARTITION`` rows per partition. The
    sampled-range-boundary correctness fence also applies — the
    offsets aggregate and the final join must read ONE
    materialization, so the partitioned relation is persisted with
    ``cache.track_persist``."""
    if partitions is None:
        n = df.count() if rows is None else rows
        partitions = max(
            df.sparkSession.sparkContext.defaultParallelism,
            -(-n // _RANK_TARGET_ROWS_PER_PARTITION),
            1,
        )
    # CORRECTNESS FENCE: see global_rank — repartitionByRange samples
    # boundaries per execution; the offsets aggregate and the final
    # join must agree on one materialization.
    parted = track_persist(
        df.repartitionByRange(partitions, *[F.col(c) for c in order_by])
        .sortWithinPartitions(*order_by)
        .withColumn("__pid", F.spark_partition_id())
    )
    offsets = (
        parted.groupBy("__pid")
        .agg(F.sum(value_col).alias("__t"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__t").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0).cast("long"),
            ),
        )
        .select("__pid", "__off")
    )
    local = F.sum(value_col).over(
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        parted.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, local + F.col("__off"))
        .drop("__pid")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt: int = 8,
    left_salt_col: str | None = None,
) -> DataFrame:
    """Skew-salted inner equi-join: replicate the (smaller) ``right``
    side across ``salt`` salts and give each ``left`` row one
    deterministic salt, so a hot key's rows spread over ``salt``
    reducers. ``left_salt_col`` picks the salting column — it must
    VARY WITHIN a key (a line number, a row id…), never derive from
    the key itself (that would map a hot key's rows to one salt and
    change nothing). The default uses ``monotonically_increasing_id``;
    the salt assignment then depends on input partitioning, which is
    fine: ANY per-row salt yields the identical join result (each left
    row matches exactly its one salted replica). Reach for this when
    AQE's skew-join can't see the skew (stream-static joins, missing
    stats) or one key exceeds an executor even after splitting."""
    sexpr = (
        F.pmod(F.col(left_salt_col), F.lit(salt)).cast("int")
        if left_salt_col
        else F.pmod(F.monotonically_increasing_id(), F.lit(salt)).cast("int")
    )
    l_s = left.withColumn("__salt", sexpr)
    r_s = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    cond = (l_s[left_key] == r_s[right_key]) & (l_s["__salt"] == r_s["__salt"])
    return l_s.join(r_s, cond).drop("__salt")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_bounds: tuple[str, str],
    right_bounds: tuple[str, str],
    bucket: int,
) -> DataFrame:
    """Overlap join between two interval sets sharing equi-keys
    ``on``: returns left ⋈ right where the [start, end] intervals
    (inclusive, same units) intersect. A raw theta join would plan as
    a nested loop; this explodes each interval into the fixed-width
    ``bucket`` ids it covers, equi-joins on (keys..., bucket), applies
    the exact predicate, and dedups the multi-bucket matches — the
    join stays hash-partitioned at any scale. Pick ``bucket`` near
    the typical interval length: the explode factor is
    len/bucket + 1, and a bucket far smaller than the intervals
    multiplies rows without tightening the candidates."""
    ls, le = left_bounds
    rs, re_ = right_bounds
    lx = left.withColumn(
        "__bkt", F.explode(F.expr(f"sequence({ls} DIV {bucket}, {le} DIV {bucket})"))
    )
    rx = right.withColumn(
        "__bkt", F.explode(F.expr(f"sequence({rs} DIV {bucket}, {re_} DIV {bucket})"))
    )
    return (
        lx.join(rx, [*on, "__bkt"])
        .where((F.col(ls) <= F.col(re_)) & (F.col(rs) <= F.col(le)))
        .drop("__bkt")
        .distinct()
    )


def grid_join(
    left: DataFrame,
    right: DataFrame,
    left_xy: tuple[str, str],
    right_xy: tuple[str, str],
    radius: int,
    cell: int | None = None,
) -> DataFrame:
    """Proximity join: every (left, right) pair within Chebyshev
    distance ``radius`` on integer coordinates. The scalable form of
    a spatial theta join: the RIGHT side (make it the smaller one)
    explodes to its 3x3 neighbor cells, the join is equi on the cell
    id, and the exact distance predicate filters. With
    ``cell == radius`` (the default) the 3x3 neighborhood provably
    covers every qualifying pair — the same shape as geohash/S2
    bucket joins. Cell ids pack as x_cell * 2^32 + y_cell offset by
    2^16 cells, collision-free for coordinates within +-2^15 cells."""
    cell = cell or radius
    lx, ly = left_xy
    rx, ry = right_xy
    off = 1 << 16
    lcell = left.withColumn(
        "__cell",
        F.expr(f"({lx} DIV {cell} + {off}) * 4294967296 + ({ly} DIV {cell} + {off})"),
    )
    rcell = (
        right.withColumn("__dx", F.explode(F.expr("sequence(-1, 1)")))
        .withColumn("__dy", F.explode(F.expr("sequence(-1, 1)")))
        .withColumn(
            "__cell",
            F.expr(
                f"({rx} DIV {cell} + __dx + {off}) * 4294967296"
                f" + ({ry} DIV {cell} + __dy + {off})"
            ),
        )
        .drop("__dx", "__dy")
    )
    return (
        lcell.join(rcell, "__cell")
        .where(
            (F.abs(F.col(lx) - F.col(rx)) <= radius)
            & (F.abs(F.col(ly) - F.col(ry)) <= radius)
        )
        .drop("__cell")
        .distinct()
    )


def running_distinct(
    df: DataFrame,
    partition_by: str,
    distinct_col: str,
    order_by: list[str],
    out_col: str = "n_distinct",
) -> DataFrame:
    """Running COUNT(DISTINCT distinct_col) per ``partition_by`` group
    in ``order_by`` order — the associative decomposition (first-
    occurrence flag + running sum) of the window aggregate Spark does
    not support. One explicit exchange on the group key serves both
    window passes (HashPartitioning on the group satisfies the
    (group, distinct) clustering of the flag window too)."""
    w_first = Window.partitionBy(partition_by, distinct_col).orderBy(*order_by)
    w_run = (
        Window.partitionBy(partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.repartition(F.col(partition_by))
        .withColumn("__first", (F.row_number().over(w_first) == 1).cast("long"))
        .withColumn(out_col, F.sum("__first").over(w_run))
        .drop("__first")
    )
