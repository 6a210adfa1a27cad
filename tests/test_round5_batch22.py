"""Third-implementation cross-checks for the round-5 batch-22
operators (`plans/relational37.py`): each result is recomputed in
pure Python from the parquet fixtures, independent of both the Spark
plan and the DuckDB oracle, with exact ``==`` comparisons (union-find
vs label-propagation vs recursive CTE for components; hashlib md5 vs
both engines' md5 for the Count-Min sketch).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE


def rnd(v: float) -> int:
    return int(math.copysign(math.floor(abs(v) + 0.5), v))


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


def _trade_edges(tables) -> pd.DataFrame:
    li = tables["lineitem"][["l_orderkey", "l_suppkey"]]
    o = tables["orders"][["o_orderkey", "o_custkey"]]
    s = tables["supplier"][["s_suppkey", "s_nationkey"]]
    c = tables["customer"][["c_custkey", "c_nationkey"]]
    j = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(s, left_on="l_suppkey", right_on="s_suppkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
    )
    return (
        j.groupby(["s_nationkey", "c_nationkey"])
        .size()
        .reset_index(name="w")
        .rename(columns={"s_nationkey": "src", "c_nationkey": "dst"})
    )


def test_connected_components_matches_union_find(run, tables):
    from boat_etl_pyspark_spark.plans.graph import _CC_TOPK

    got = run("graph_connected_components")
    nat = tables["nation"][["n_nationkey", "n_regionkey"]]
    reg = dict(zip(nat.n_nationkey, nat.n_regionkey))
    e = _trade_edges(tables)
    e = e[(e.src != e.dst) & (e.src.map(reg) == e.dst.map(reg))]
    e = e.sort_values(["src", "w", "dst"], ascending=[True, False, True])
    keep = e.groupby("src").head(_CC_TOPK)

    parent = {int(n): int(n) for n in nat.n_nationkey}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for _, r in keep.iterrows():
        a, b = find(int(r.src)), find(int(r.dst))
        if a != b:
            parent[max(a, b)] = min(a, b)
    comp = {n: find(n) for n in parent}
    # path-compress to the component MIN (find roots are already the
    # min because union always parents the larger root)
    size = Counter(comp.values())
    want = sorted(
        (n, comp[n], size[comp[n]]) for n in comp
    )
    assert [
        (int(r.nation), int(r.comp), int(r.comp_size))
        for r in got.itertuples()
    ] == want


def test_cms_matches_hashlib_and_never_undercounts(run, tables):
    from boat_etl_pyspark_spark.plans.agg import (
        _CMS_D,
        _CMS_TOPN,
        _CMS_W,
    )

    got = run("agg_count_min_sketch")
    keys = tables["orders"]["o_custkey"].astype(int)
    exact = Counter(keys)

    def bucket(j: int, key: int) -> int:
        h = hashlib.md5(f"cms{j}:{key}".encode()).hexdigest()[:8]
        return int(h, 16) % _CMS_W

    cells: dict[tuple[int, int], int] = defaultdict(int)
    for key, cnt in exact.items():
        for j in range(_CMS_D):
            cells[(j, bucket(j, key))] += cnt
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:_CMS_TOPN]
    want = [
        (
            key,
            cnt,
            min(cells[(j, bucket(j, key))] for j in range(_CMS_D)),
        )
        for key, cnt in top
    ]
    assert [
        (int(r.custkey), int(r.exact_cnt), int(r.cms_est))
        for r in got.itertuples()
    ] == want
    assert (got.cms_est >= got.exact_cnt).all()
    assert (got.overcount == got.cms_est - got.exact_cnt).all()


def test_tail_cvar_matches_sorted_scan(run, tables):
    from boat_etl_pyspark_spark.plans.agg import _TAIL_PCT

    got = run("agg_tail_cvar")
    o = tables["orders"].copy()
    o["cents"] = [rnd(p * 100) for p in o.o_totalprice]
    rows = []
    for pri, g in o.groupby("o_orderpriority"):
        vals = g.sort_values(
            ["cents", "o_orderkey"], ascending=[False, True]
        )["cents"].tolist()
        n = len(vals)
        k = max(1, n * _TAIL_PCT // 100)
        tail = vals[:k]
        rows.append(
            (
                pri,
                n,
                k,
                min(tail),
                sum(tail) // k,
                sum(tail) * 1_000_000 // sum(vals),
            )
        )
    assert [
        (
            r.o_orderpriority,
            int(r.n_orders),
            int(r.n_tail),
            int(r.var_cents),
            int(r.cvar_cents),
            int(r.tail_share_ppm),
        )
        for r in got.itertuples()
    ] == sorted(rows)


def test_null_safe_join_keeps_the_null_bucket(run, tables):
    from boat_etl_pyspark_spark.plans.join import _NS_SMALL

    got = run("join_null_safe")
    p = tables["part"].copy()
    p["bucket"] = [
        b if str(b).startswith("Brand#1") else None for b in p.p_brand
    ]
    n_all = Counter(p.bucket)
    n_small = Counter(p.loc[p.p_size <= _NS_SMALL, "bucket"])
    want = sorted(
        (
            (k, n_all[k], n_small[k], n_small[k] * 1_000_000 // n_all[k])
            for k in n_all
            if n_small.get(k)
        ),
        key=lambda t: (t[0] is not None, t[0]),
    )
    assert [
        (
            None if pd.isna(r.brand_bucket) else r.brand_bucket,
            int(r.n_all),
            int(r.n_small),
            int(r.small_share_ppm),
        )
        for r in got.itertuples()
    ] == want
    # the whole point: the NULL bucket row is present
    assert got.brand_bucket.isna().any()
