"""Plan-shape and invariant tests for the IO round-trip and
sessionization queries (beyond the oracle parity every registry entry
already gets in test_oracle_parity)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import Window
from pyspark.sql import functions as F

from boat_etl_pyspark_spark.plans.io import (
    io_csv_roundtrip,
    io_partitioned_scan,
)
from boat_etl_pyspark_spark.plans.events import _GAP_US, events_sessionize
from boat_etl_pyspark_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_partitioned_scan_prunes(spark):
    df = io_partitioned_scan(spark, SF_SMOKE)
    plan = plan_of(df)
    # The event_type predicate must be a partition filter on the
    # read-back scan, not a post-scan Filter over all partitions.
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "event_type" in seg


def test_csv_roundtrip_is_content_sensitive(spark):
    # The round-trip aggregate must reflect the decorated text (the
    # part that exercises quoting); if the reader dropped or split
    # records the distinct-text count could not match the doc count.
    out = io_csv_roundtrip(spark, SF_SMOKE).agg(
        F.sum("n_docs").alias("docs"),
        F.sum("n_distinct_texts").alias("texts"),
    ).collect()[0]
    assert out.docs > 0
    assert out.texts > 0


def test_bucketed_join_has_no_exchange(spark):
    from boat_etl_pyspark_spark.plans.io import io_bucketed_join

    df = io_bucketed_join(spark, SF_SMOKE)
    plan = plan_of(df)
    # Bucketed co-located layout: nothing shuffles BELOW the join (the
    # formatted tree prints children underneath, so the join's subtree
    # is everything after the SortMergeJoin line down to the scans; the
    # post-join aggregation's exchange sits ABOVE it and is expected).
    tree = plan.split("\n\n", 1)[0]
    assert "SortMergeJoin" in tree
    subtree = tree.split("SortMergeJoin", 1)[1]
    pre_join = [ln for ln in subtree.splitlines() if "Exchange" in ln]
    assert not pre_join, f"exchange below bucketed SMJ: {pre_join}"
    assert "Bucketed: true" in plan


def test_zorder_files_do_not_overlap(spark, tmp_path):
    """Range-partitioning by the Morton key yields files whose z-ranges
    are disjoint — the property min/max statistics pruning needs."""
    from boat_etl_pyspark_spark.plans.io import _zvalue

    orders = load_table(spark, SF_SMOKE, "orders")
    z = orders.select(
        "o_orderkey",
        _zvalue(
            F.col("o_custkey").bitwiseAND(F.lit(0xFFFF)),
            F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1995-01-01"))).bitwiseAND(
                F.lit(0xFFFF)
            ),
        ).alias("zvalue"),
    )
    out = str(tmp_path / "zorders")
    z.repartitionByRange(4, "zvalue").write.mode("overwrite").parquet(out)
    ranges = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("zvalue").alias("lo"), F.max("zvalue").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in ranges)
    assert len(spans) > 1
    for (_, prev_hi), (lo, _) in zip(spans, spans[1:]):
        assert lo > prev_hi, f"overlapping z-ranges: {spans}"


def test_sessionize_invariants(spark):
    sessions = events_sessionize(spark, SF_SMOKE)
    # Sessions of one user never overlap, and consecutive sessions are
    # separated by more than the gap.
    bad_order = (
        sessions.withColumn(
            "prev_end",
            F.lag("t_end_us").over(
                Window.partitionBy("user_id").orderBy("session_seq")
            ),
        )
        .where(F.col("prev_end").isNotNull())
        .where(F.col("t_start_us") - F.col("prev_end") <= _GAP_US)
        .count()
    )
    assert bad_order == 0
    # Every event lands in exactly one session.
    from boat_etl_pyspark_spark.sources.readers import load_table

    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert sessions.agg(F.sum("n_events")).collect()[0][0] == n_events


def test_codec_tradeoff_zstd_wins_and_roundtrips(spark):
    import pandas as pd

    import __spark_entry__ as m
    from tests.conftest import SF_SMOKE

    got = m.queries()["io_codec_tradeoff"](spark, SF_SMOKE).toPandas()
    # zstd must have actually produced smaller files than snappy
    assert got.loc[got.codec == "zstd", "smaller_file"].all()
    assert not got.loc[got.codec == "snappy", "smaller_file"].any()
    # both codecs round-trip the identical aggregate
    piv = got.pivot(index="o_orderpriority", columns="codec",
                    values=["n_orders", "revenue_cents"])
    assert (piv["n_orders"]["zstd"] == piv["n_orders"]["snappy"]).all()
    assert (
        piv["revenue_cents"]["zstd"] == piv["revenue_cents"]["snappy"]
    ).all()
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    assert got.n_orders.sum() == 2 * len(orders)
