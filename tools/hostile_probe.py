"""Replay every TPC-H-consuming registry query in both engines against
the hostile relational fixture (tests/hostile_tpch.py) and report the
divergence list — the committed, rerunnable form of the round-9
discovery probe (COVERAGE.md "Round-9 discovery probe").

Usage:
    python tools/hostile_probe.py                 # all TPC-H consumers
    python tools/hostile_probe.py name1 name2     # targeted
    python tools/hostile_probe.py --table orders  # hostile rows in ONE
                                                  # table only (bisect)

Output: one line per query — OK / DIVERGE / SPARK_ERR / DUCK_ERR —
plus a summary count. Exit code 0 iff no problems.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TPCH_TABLES = ("orders", "lineitem", "customer", "supplier", "part",
               "nation", "region")


def consumers(oracles: dict[str, str], queries) -> list[str]:
    """Queries whose oracle references a TPC-H table (word-boundary
    match on the FROM/JOIN surface is overkill — table names are
    distinctive enough for a whole-word match)."""
    out = []
    for name in queries:
        sql = oracles.get(name)
        if sql is None:
            continue
        if any(re.search(rf"\b{t}\b", sql) for t in TPCH_TABLES):
            out.append(name)
    return out


def main() -> int:
    args = [a for a in sys.argv[1:]]
    only_table = None
    if "--table" in args:
        i = args.index("--table")
        only_table = args[i + 1]
        del args[i : i + 2]

    import duckdb

    import __spark_entry__ as m
    from boat_etl_pyspark_spark.plans import release_caches
    from boat_etl_pyspark_spark.session import get_spark
    from tests.hostile_tpch import HOSTILE_BUILDERS, build_hostile_dir
    from tests.test_oracle_parity import frames_equal

    src = os.environ.get("HOSTILE_PROBE_SRC", "/root/testdata/sf0.001")
    tables = (only_table,) if only_table else tuple(HOSTILE_BUILDERS)
    dst = tempfile.mkdtemp(prefix="spark_graft_hostile_")
    build_hostile_dir(src, dst, tables)

    qs = m.queries()
    osql = m.oracle_sql()
    names = args or consumers(osql, qs)
    spark = get_spark("hostile-probe", cpus=8)

    def duck():
        con = duckdb.connect()
        import glob

        for p in glob.glob(os.path.join(dst, "*.parquet")):
            t = os.path.basename(p).replace(".parquet", "")
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS"
                f" SELECT * FROM read_parquet('{p}')"
            )
        return con

    n_ok = 0
    problems: list[tuple[str, str]] = []
    for name in names:
        status, detail = "OK", ""
        spark_pd = oracle_pd = None
        try:
            spark_pd = qs[name](spark, dst).toPandas()
        except Exception as e:  # noqa: BLE001
            status, detail = "SPARK_ERR", repr(e)[:200]
        finally:
            release_caches(spark)
        if status == "OK":
            try:
                oracle_pd = duck().execute(osql[name]).fetchdf()
            except Exception as e:  # noqa: BLE001
                status, detail = "DUCK_ERR", repr(e)[:200]
        if status == "OK":
            probs = frames_equal(spark_pd, oracle_pd)
            if probs:
                status, detail = "DIVERGE", "; ".join(probs)[:300]
        if status == "OK":
            n_ok += 1
        else:
            problems.append((name, f"{status}: {detail}"))
        print(f"{status:9s} {name}" + (f"  {detail}" if detail else ""),
              flush=True)

    print(f"\n{n_ok}/{len(names)} OK, {len(problems)} problems")
    for name, d in problems:
        print(f"  {name}: {d}")
    if "--debug-tb" in sys.argv:
        traceback.print_exc()
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
