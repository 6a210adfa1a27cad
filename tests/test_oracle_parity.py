"""Replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB, compare row count, column
names, and exact values (order-insensitive). Queries without an oracle
get a rows-only sanity check."""

from __future__ import annotations

import math

import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_CORRECTNESS, needs_boat_reference

ALL_QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values — mirrors the
    driver's order-insensitive compare."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False  # one-sided NULL is a mismatch, not a TypeError
    if isinstance(a, float) or isinstance(b, float):
        # The driver hashes FORMATTED values, so int 3431 vs float 3431.0
        # is a mismatch there (DuckDB HUGEINT->float64 drift). Mirror it:
        # an int on one side and a float on the other is a failure even
        # when numerically equal.
        a_int = isinstance(a, int) and not isinstance(a, bool)
        b_int = isinstance(b, int) and not isinstance(b, bool)
        if a_int != b_int and (a_int or b_int):
            return False
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return a == b


def frames_equal(spark_pd: pd.DataFrame, oracle_pd: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pd.columns) != sorted(oracle_pd.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pd.columns)} oracle={sorted(oracle_pd.columns)}"
        )
        return problems
    if len(spark_pd) != len(oracle_pd):
        problems.append(f"row count differs: spark={len(spark_pd)} oracle={len(oracle_pd)}")
        return problems
    a = canonicalize(spark_pd)
    b = canonicalize(oracle_pd)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        bad = [
            (i, x, y)
            for i, (x, y) in enumerate(zip(av, bv))
            if not values_equal(None if pd.isna(x) else x, None if pd.isna(y) else y)
        ]
        if bad:
            i, x, y = bad[0]
            problems.append(
                f"column {col!r}: {len(bad)} mismatched values, first at row {i}: spark={x!r} oracle={y!r}"
            )
    return problems


@pytest.mark.parametrize("name", needs_boat_reference(sorted(ALL_QUERIES)))
def test_query_matches_oracle(name, spark, oracle):
    sdf = ALL_QUERIES[name](spark, SF_CORRECTNESS)
    spark_pd = sdf.toPandas()
    if name not in ORACLES:
        assert len(spark_pd) >= 0  # rows-only check, mirrors driver
        return
    con = oracle(SF_CORRECTNESS)
    oracle_pd = con.execute(ORACLES[name]).fetchdf()
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None
