"""Single-row parity: every contract query replayed Spark-vs-DuckDB
against tables holding exactly ONE row each (first row of sf0.001).

The empty-tables suite (test_empty_inputs.py) asserts queries only
EXECUTE on zero rows; one row is a different hazard class — sample
variances divide by n-1 = 0, correlations divide by zero spread,
windows have no predecessor, and NaN-vs-NULL conventions differ
between engines. Each query must produce IDENTICAL output from both
engines here, exactly as in the main gate."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE, needs_boat_reference
from tests.test_oracle_parity import frames_equal

SKIP_SLICE = ()  # all tables sliced


@pytest.fixture(scope="module")
def single_row_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_single_row"))
    for p in glob.glob(os.path.join(SF_SMOKE, "*.parquet")):
        table = pq.read_table(p).slice(0, 1)
        pq.write_table(table, os.path.join(d, os.path.basename(p)), version="2.6")
    return d


def all_query_names():
    import __spark_entry__ as m

    return sorted(m.queries())


@pytest.mark.parametrize("name", needs_boat_reference(all_query_names()))
def test_single_row_parity(spark, oracle, single_row_dir, name):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.plans import release_caches

    try:
        spark_pd = m.queries()[name](spark, single_row_dir).toPandas()
        if name not in m.oracle_sql():
            assert len(spark_pd) >= 0
            return
        con = oracle(single_row_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)
