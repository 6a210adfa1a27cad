"""Result checks: Spark frames against DuckDB, and the boat pipeline's
outputs against the aggregates its input generator computed.

Query results are compared with ``frames_equal`` of the repository's
oracle-parity test (``tests/test_oracle_parity.py``), so the benchmark
checks exactly what that test checks.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pandas as pd


def oracle_frame(sf_dir: str, sql: str, cache_dir: str) -> pd.DataFrame:
    """DuckDB's result of ``sql`` over the fixture tables, as the parity
    test computes it. ``cache_dir`` belongs to one fixture directory;
    the result is kept there under a hash of the SQL and the DuckDB and
    pandas versions, and computed again when any of them changes."""
    import duckdb

    key = "\0".join((sql, duckdb.__version__, pd.__version__))
    path = os.path.join(cache_dir, hashlib.sha256(key.encode()).hexdigest()[:24] + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    try:
        for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            name = os.path.basename(p)[: -len(".parquet")]
            con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        frame = con.execute(sql).fetchdf()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    frame.to_pickle(tmp)
    os.replace(tmp, path)
    return frame


def summary_matches(summary: pd.DataFrame, expected: dict[str, tuple[int, int]]) -> list[str]:
    """Check the pipeline's per-country summary against generator truth.

    ``expected`` maps country -> (row count, sum of price_eur in integer
    cents). The summary holds ``avg_price`` (float) and ``count``; the
    cents sum it implies must round to the expected one.
    """
    got = {
        r["country"]: (int(r["count"]), round(float(r["avg_price"]) * int(r["count"]) * 100))
        for r in summary.to_dict("records")
    }
    problems = []
    for country in sorted(set(got) | set(expected)):
        if got.get(country) != expected.get(country):
            problems.append(f"{country}: pipeline={got.get(country)} generator={expected.get(country)}")
    return problems
