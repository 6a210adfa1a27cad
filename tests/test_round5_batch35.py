"""Third-implementation cross-checks for the round-5 batch-35
operators (`plans/relational48.py`): k-core peeling replayed with
Python sets, lead-lag correlations and McNemar from raw counts —
exact ``==`` comparisons."""

from __future__ import annotations

import math
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


def test_kcore_peeling_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.graph import _KCORE_ROUNDS

    li = tables["lineitem"]
    orders = defaultdict(set)
    for r in li.itertuples():
        orders[int(r.l_orderkey)].add(int(r.l_partkey))
    pairs = set()
    for parts in orders.values():
        pairs.update(combinations(sorted(parts), 2))
    deg = Counter()
    for a, b in pairs:
        deg[a] += 1
        deg[b] += 1
    n, twom = len(deg), sum(deg.values())
    k = (twom // n) * 8 // 10
    surv = set(deg)
    want = []
    for r in range(1, _KCORE_ROUNDS + 1):
        d = Counter()
        for a, b in pairs:
            if a in surv and b in surv:
                d[a] += 1
                d[b] += 1
        surv = {x for x, c in d.items() if c >= k}
        want.append((r, k, len(surv)))
    got = run("graph_kcore_peeling")
    assert [
        (int(r.round), int(r.k), int(r.n_core)) for r in got.itertuples()
    ] == want


def test_lead_lag_xcorr_matches_python(run, tables):
    ev = tables["events"]
    day = (
        (ev.ts.dt.floor("us") - pd.Timestamp("1970-01-01"))
        // pd.Timedelta(microseconds=1)
    ) // 86_400_000_000
    daily = defaultdict(lambda: [0, 0])
    for d, t in zip(day, ev.event_type):
        if t == "view":
            daily[int(d)][0] += 1
        elif t == "purchase":
            daily[int(d)][1] += 1
    ds = sorted(daily)
    rows = [
        (daily[d][0], daily[d][1], daily[p][0], daily[p][1])
        for d, p in zip(ds[1:], ds)
    ]
    n = len(rows)

    def corr(xi, yi):
        sx = sum(r[xi] for r in rows)
        sy = sum(r[yi] for r in rows)
        sxx = sum(r[xi] * r[xi] for r in rows)
        syy = sum(r[yi] * r[yi] for r in rows)
        sxy = sum(r[xi] * r[yi] for r in rows)
        return math.floor(
            (float(n) * float(sxy) - float(sx) * float(sy))
            / math.sqrt(
                (float(n) * float(sxx) - float(sx) * float(sx))
                * (float(n) * float(syy) - float(sy) * float(sy))
            )
            * 1_000_000
        )

    got = run("ts_lead_lag_xcorr").iloc[0]
    assert int(got.n_days) == n
    assert int(got.corr_same_micro) == corr(0, 1)
    assert int(got.corr_views_lead_micro) == corr(2, 1)
    assert int(got.corr_purchases_lead_micro) == corr(3, 0)


def test_mcnemar_matches_python(run, tables):
    docs = tables["documents"]
    b = c = 0
    for r in docs.itertuples():
        a_pred = r.n_chars >= 300
        b_pred = len([w for w in str(r.text).split(" ") if w]) >= 45
        label = str(r.lang) == "en"
        if a_pred == label and b_pred != label:
            b += 1
        if b_pred == label and a_pred != label:
            c += 1
    stat = max(abs(b - c) - 1, 0) ** 2 * 1000 // (b + c)
    got = run("agg_mcnemar_paired").iloc[0]
    assert int(got.n_docs) == len(docs)
    assert int(got.n_only_a_correct) == b
    assert int(got.n_only_b_correct) == c
    assert int(got.mcnemar_milli) == stat
    assert bool(got.significant) == (stat > 3841)
