from __future__ import annotations

import glob
import math
import os

import duckdb
import pandas as pd
import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def needs_boat_reference(names):
    """Parametrize values for registry query names. The queries in
    ``boat_plan.QUERIES`` read the reference boat CSV whatever sf_dir
    they get, and their oracle is frozen from that file, so each of
    them is skipped where the file is missing; other names pass
    through unchanged (same test ids either way)."""
    from boat_etl_pyspark_spark.plans import boat_plan

    skip = pytest.mark.skipif(
        not boat_plan.reference_present(),
        reason=f"reference input not present: {boat_plan._INPUT}",
    )
    return [
        pytest.param(n, marks=skip) if n in boat_plan.QUERIES else n for n in names
    ]


@pytest.fixture(scope="session")
def spark():
    from boat_etl_pyspark_spark.session import get_spark

    s = get_spark("boat-etl-pyspark-spark-tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with fixture tables registered as views,
    mirroring the driver's correctness harness."""

    def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        # DuckDB's default limit is 80% of RAM; next to the Spark JVM
        # that lets one oracle query (graph_reciprocity at sf0.1) grow
        # pytest until the kernel kills it.
        con.execute("SET memory_limit='2GB'")
        for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
            name = os.path.basename(p).replace(".parquet", "")
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{p}')"
            )
        return con

    return connect


def rnd(v: float) -> int:
    """Engine ROUND(): half away from zero (Spark HALF_UP on a double,
    DuckDB round)."""
    return int(math.copysign(math.floor(abs(v) + 0.5), v))


@pytest.fixture(scope="module")
def tables():
    """Every sf0.001 fixture table as a pandas frame, for the
    pure-Python cross-checks."""
    out = {}
    for p in glob.glob(os.path.join(SF_SMOKE, "*.parquet")):
        out[os.path.basename(p).replace(".parquet", "")] = pd.read_parquet(p)
    return out


@pytest.fixture(scope="module")
def run(spark):
    """Run one registry query at sf0.001 to pandas, then release the
    session caches it built."""
    import __spark_entry__ as m

    qs = m.queries()

    def _run(name: str) -> pd.DataFrame:
        from boat_etl_pyspark_spark.cache import release_caches

        try:
            return qs[name](spark, SF_SMOKE).toPandas()
        finally:
            release_caches(spark)

    return _run
