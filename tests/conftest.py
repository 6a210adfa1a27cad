from __future__ import annotations

import glob
import os

import duckdb
import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


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
        for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
            name = os.path.basename(p).replace(".parquet", "")
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{p}')"
            )
        return con

    return connect
