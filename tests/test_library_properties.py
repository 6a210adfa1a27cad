"""Property tests for the distributed-primitive library: on arbitrary
small inputs, global_rank must equal a single-partition row_number and
salted_join must equal the plain join — the invariants that make them
safe drop-in replacements at scale."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from boat_etl_pyspark_spark.operators.library import global_rank, salted_join

_rows = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=0,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_rows)
def test_global_rank_equals_window_rank(spark, rows):
    df = spark.createDataFrame(
        [(i, v) for i, (v, _) in enumerate(rows)], "id long, v long"
    )
    got = {
        (r["id"], r["rank"])
        for r in global_rank(df, ["v", "id"], partitions=3).collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        (r["id"], r["rank"])
        for r in df.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_rows, _rows)
def test_salted_join_equals_plain_join(spark, left_rows, right_rows):
    left = spark.createDataFrame(
        [(k, i) for i, (_, k) in enumerate(left_rows)], "k long, lid long"
    )
    right = spark.createDataFrame(
        [(k, i) for i, (_, k) in enumerate(right_rows)], "k2 long, rid long"
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in salted_join(left, right, "k", "k2", salt=3).collect()
    )
    want = sorted(
        (r["lid"], r["rid"])
        for r in left.join(right, left.k == right.k2).collect()
    )
    assert got == want


def test_global_rank_partition_by_matches_window(spark):
    """Per-group global_rank == row_number() over (group, order) for a
    multi-group input spread over more partitions than groups."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from boat_etl_pyspark_spark.operators.library import global_rank

    df = spark.range(5000).select(
        (F.col("id") % 7).alias("g"),
        ((F.col("id") * 37) % 1000).alias("v"),
        F.col("id"),
    )
    got = {
        (r["g"], r["id"]): r["rank"]
        for r in global_rank(
            df, ["v", "id"], partitions=6, partition_by=["g"]
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("v", "id")
    want = {
        (r["g"], r["id"]): r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


def test_global_rank_sf01_stress(spark):
    """600k-row rank at partitions=8: ranks must be a permutation of
    1..N with the right value at the extremes (the sf0.01-green/
    sf0.1-broken bug class: bit-layout/modulo errors only surface once
    partitions actually fill)."""
    import os

    import pyspark.sql.functions as F

    from boat_etl_pyspark_spark.operators.library import global_rank

    path = "/root/testdata/sf0.1/lineitem.parquet"
    if not os.path.exists(path):
        import pytest

        pytest.skip("sf0.1 fixture not present")
    df = spark.read.parquet(path).select("l_orderkey", "l_linenumber", "l_extendedprice")
    ranked = global_rank(
        df, ["l_extendedprice", "l_orderkey", "l_linenumber"], partitions=8
    )
    stats = ranked.agg(
        F.count("*").alias("n"),
        F.min("rank").alias("lo"),
        F.max("rank").alias("hi"),
        F.countDistinct("rank").alias("nd"),
    ).collect()[0]
    assert stats["lo"] == 1 and stats["hi"] == stats["n"] == stats["nd"]
    # the max-rank row carries the max value
    top = ranked.where(F.col("rank") == stats["n"]).select("l_extendedprice").collect()[0][0]
    assert top == df.agg(F.max("l_extendedprice")).collect()[0][0]


def test_global_rank_cached_input_under_aqe(spark):
    """Regression: a CACHED input under AQE made the two consumers of
    the numbered relation (offset aggregate + join) re-execute the
    sampled range shuffle with disagreeing boundaries — silently
    corrupt ranks, nondeterministic run to run. The in-primitive
    persist pins one materialization; this pins the fix, for both the
    global and the per-group form."""
    from boat_etl_pyspark_spark.cache import release_caches

    df = spark.range(0, 20000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        ((F.col("id") * 2654435761) % 100000).alias("v"),
        F.col("id"),
    ).persist()
    df.count()
    try:
        w = Window.partitionBy("g").orderBy("v", "id")
        want_grp = {
            (r["g"], r["id"]): r["rn"]
            for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        wg = Window.orderBy("v", "id")
        want_glob = {
            r["id"]: r["rn"]
            for r in df.withColumn("rn", F.row_number().over(wg)).collect()
        }
        for _ in range(2):  # corruption was nondeterministic; two reps
            got_grp = {
                (r["g"], r["id"]): r["rank"]
                for r in global_rank(
                    df, ["v", "id"], partitions=5, partition_by=["g"]
                ).collect()
            }
            assert got_grp == want_grp
            got_glob = {
                r["id"]: r["rank"]
                for r in global_rank(df, ["v", "id"], partitions=5).collect()
            }
            assert got_glob == want_glob
    finally:
        df.unpersist()
        release_caches(spark)


_intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # key
        st.integers(min_value=0, max_value=500),    # start
        st.integers(min_value=0, max_value=200),    # length
    ),
    min_size=0,
    max_size=25,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_intervals, _intervals)
def test_interval_overlap_join_equals_theta_join(spark, lrows, rrows):
    from boat_etl_pyspark_spark.operators.library import interval_overlap_join

    left = spark.createDataFrame(
        [(k, i, s, s + ln) for i, (k, s, ln) in enumerate(lrows)],
        "k long, lid long, ls long, le long",
    )
    right = spark.createDataFrame(
        [(k, i, s, s + ln) for i, (k, s, ln) in enumerate(rrows)],
        "k long, rid long, rs long, re long",
    )
    got = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, ["k"], ("ls", "le"), ("rs", "re"), bucket=64
        ).collect()
    }
    want = {
        (lid, rid)
        for i, (lk, lst, lln) in enumerate(lrows)
        for j, (rk, rst, rln) in enumerate(rrows)
        for lid, rid in [(i, j)]
        if lk == rk and lst <= rst + rln and rst <= lst + lln
    }
    assert got == want


_points = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=300),
        st.integers(min_value=0, max_value=300),
    ),
    min_size=0,
    max_size=20,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_points, _points)
def test_grid_join_equals_distance_theta_join(spark, lpts, rpts):
    from boat_etl_pyspark_spark.operators.library import grid_join

    radius = 30
    left = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(lpts)], "lid long, lx long, ly long"
    )
    right = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(rpts)], "rid long, rx long, ry long"
    )
    got = {
        (r["lid"], r["rid"])
        for r in grid_join(
            left, right, ("lx", "ly"), ("rx", "ry"), radius=radius
        ).collect()
    }
    want = {
        (i, j)
        for i, (lx, ly) in enumerate(lpts)
        for j, (rx, ry) in enumerate(rpts)
        if abs(lx - rx) <= radius and abs(ly - ry) <= radius
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_rows)
def test_running_distinct_equals_python_scan(spark, rows):
    from boat_etl_pyspark_spark.operators.library import running_distinct

    df = spark.createDataFrame(
        [(v % 3, i, str(g)) for i, (v, g) in enumerate(rows)],
        "key long, ord long, val string",
    )
    got = {
        (r["key"], r["ord"]): r["nd"]
        for r in running_distinct(df, "key", "val", ["ord"], "nd").collect()
    }
    want = {}
    by_key: dict = {}
    for i, (v, g) in sorted(enumerate(rows), key=lambda t: t[0]):
        k = v % 3
        seen = by_key.setdefault(k, set())
        seen.add(str(g))
        want[(k, i)] = len(seen)
    assert got == want


_psum_rows = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000),
        st.integers(min_value=-50, max_value=50),
    ),
    min_size=0,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_psum_rows)
def test_global_prefix_sum_equals_window_cumsum(spark, rows):
    from boat_etl_pyspark_spark.operators.library import global_prefix_sum

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)],
        "id long, k long, v long",
    )
    got = {
        (r["id"], r["prefix_sum"])
        for r in global_prefix_sum(df, ["k", "id"], "v", partitions=3).collect()
    }
    w = (
        Window.orderBy("k", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["id"], r["c"])
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_global_prefix_sum_stable_across_partition_counts(spark):
    from boat_etl_pyspark_spark.operators.library import global_prefix_sum

    df = spark.range(0, 5000).selectExpr(
        "id", "CAST(id % 997 AS LONG) AS k", "CAST(id % 13 - 6 AS LONG) AS v"
    )
    ref = None
    for parts in (1, 3, 17):
        got = sorted(
            (r["id"], r["prefix_sum"])
            for r in global_prefix_sum(df, ["k", "id"], "v", partitions=parts).collect()
        )
        if ref is None:
            ref = got
        else:
            assert got == ref, f"partitions={parts} diverged"
