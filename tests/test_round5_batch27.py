"""Third-implementation cross-checks for the round-5 batch-27
operators (`plans/relational42.py`): co-purchase Jaccard from raw
itertools pairs, footer audit vs a pandas DATA scan (so the test
triangulates footer == Spark == data), and domain caps via hashlib
md5 — exact ``==`` comparisons."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict
from itertools import combinations

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def tables():
    import glob
    import os

    out = {}
    for p in glob.glob(os.path.join(SF_SMOKE, "*.parquet")):
        out[os.path.basename(p).replace(".parquet", "")] = pd.read_parquet(p)
    return out


@pytest.fixture(scope="module")
def run(spark):
    import __spark_entry__ as m

    qs = m.queries()

    def _run(name: str) -> pd.DataFrame:
        from boat_etl_pyspark_spark.plans import release_caches

        try:
            return qs[name](spark, SF_SMOKE).toPandas()
        finally:
            release_caches(spark)

    return _run


def test_copurchase_matches_python(run, tables):
    li = tables["lineitem"]
    orders = defaultdict(set)
    for r in li.itertuples():
        orders[int(r.l_orderkey)].add(int(r.l_partkey))
    deg = Counter()
    co = Counter()
    for parts in orders.values():
        for p in parts:
            deg[p] += 1
        for a, b in combinations(sorted(parts), 2):
            co[(a, b)] += 1
    scored = [
        (c, c * 1_000_000 // (deg[a] + deg[b] - c), a, b)
        for (a, b), c in co.items()
    ]
    scored.sort(key=lambda t: (-t[0], -t[1], t[2], t[3]))
    want = [(a, b, c, j) for c, j, a, b in scored[:20]]
    got = run("graph_copurchase_similarity")
    assert [
        (int(r.part_a), int(r.part_b), int(r.n_coorders), int(r.jaccard_micro))
        for r in got.itertuples()
    ] == want


def test_footer_audit_matches_data_scan(run, tables):
    from boat_etl_pyspark_spark.plans.io import _AUDIT_TABLES

    got = run("io_parquet_footer_audit").set_index("tbl")
    for tbl, key in _AUDIT_TABLES:
        df = tables[tbl]
        row = got.loc[tbl]
        assert int(row.num_rows) == len(df)
        assert int(row.min_key) == int(df[key].min())
        assert int(row.max_key) == int(df[key].max())
        assert int(row.null_count) == int(df[key].isna().sum())
        assert int(row.n_files) >= 1 and int(row.n_row_groups) >= 1


def test_domain_caps_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.curate import _DOMAIN_CAP

    docs = tables["documents"]
    by_source = defaultdict(list)
    for r in docs.itertuples():
        h = hashlib.md5(str(int(r.doc_id)).encode()).hexdigest()
        by_source[str(r.source)].append((h, int(r.doc_id)))
    want = []
    for src in sorted(by_source):
        ranked = sorted(by_source[src])
        for i, (_, d) in enumerate(ranked[:_DOMAIN_CAP], start=1):
            want.append((src, d, i))
    got = run("curate_domain_caps")
    assert [
        (str(r.source), int(r.doc_id), int(r.rk)) for r in got.itertuples()
    ] == want
