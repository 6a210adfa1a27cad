"""Third-implementation cross-checks for the round-5 batch-42
operators (`plans/relational55.py`): hard-negative mining, price
indices, DAU/MAU stickiness, embedding isotropy and the Youden
threshold recomputed in pure Python — exact ``==`` on every integer
column."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

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


def _quant(vec, dims=None):
    v = list(vec)[: dims or len(list(vec))]
    return [int(round(float(x) * 1000)) for x in v]


def test_hard_negative_mining_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.ml import _HNM_ANCHORS

    emb = tables["embeddings"]
    vecs = {
        int(r.vec_id): (_quant(r.embedding), int(r.label))
        for r in emb.itertuples()
    }
    anchors = sorted(
        vecs, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:_HNM_ANCHORS]
    got = run("ml_hard_negative_mining")
    assert len(got) == len(anchors)
    by_a = {int(r.anchor_id): r for r in got.itertuples(index=False)}
    for a in anchors:
        qa, la = vecs[a]
        pos = neg = None
        neg_ids = []
        for b, (qb, lb) in vecs.items():
            if b == a:
                continue
            d = sum(x * y for x, y in zip(qa, qb))
            if lb == la:
                pos = d if pos is None else max(pos, d)
            else:
                if neg is None or d > neg:
                    neg = d
                    neg_ids = [b]
                elif d == neg:
                    neg_ids.append(b)
        r = by_a[a]
        assert r.label == la
        assert r.best_pos_dot == pos
        assert r.hardest_neg_dot == neg
        assert r.margin == pos - neg
        assert r.hardest_neg_id == min(neg_ids)


def test_price_index_matches_python(run, tables):
    li = tables["lineitem"].merge(
        tables["orders"], left_on="l_orderkey", right_on="o_orderkey"
    )
    li["y"] = li["o_orderdate"].map(lambda d: pd.Timestamp(d).year)
    per = defaultdict(lambda: [0, 0])
    for r in li.itertuples():
        if r.y in (1996, 1997):
            rec = per[(int(r.l_partkey), r.y)]
            rec[0] += int(round(r.l_quantity))
            rec[1] += int(round(r.l_extendedprice * 100))
    parts = {pk for (pk, y) in per if y == 1996} & {
        pk for (pk, y) in per if y == 1997
    }
    parts = {
        pk
        for pk in parts
        if per[(pk, 1996)][0] > 0 and per[(pk, 1997)][0] > 0
    }
    se0 = sum(per[(pk, 1996)][1] for pk in parts)
    se1 = sum(per[(pk, 1997)][1] for pk in parts)
    l_num = sum(
        per[(pk, 1997)][1] * per[(pk, 1996)][0] // per[(pk, 1997)][0]
        for pk in parts
    )
    p_den = sum(
        per[(pk, 1996)][1] * per[(pk, 1997)][0] // per[(pk, 1996)][0]
        for pk in parts
    )
    got = run("agg_price_index_fisher").iloc[0]
    assert got.n_common_parts == len(parts)
    assert got.base_revenue_cents == se0
    assert got.current_revenue_cents == se1
    assert got.laspeyres_ppm == 1000000 * l_num // se0
    assert got.paasche_ppm == 1000000 * se1 // p_den
    assert got.fisher_ppm == math.floor(
        math.sqrt((1000000.0 * l_num / se0) * (1000000.0 * se1 / p_den))
    )


def test_dau_mau_matches_python(run, tables):
    ev = tables["events"].copy()
    ev["t_us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    day_users = defaultdict(set)
    mo_users = defaultdict(set)
    for t, u in zip(ev["t_us"], ev["user_id"]):
        d = t // 86_400_000_000
        day_users[d].add(int(u))
        mo_users[d // 30].add(int(u))
    per_mo = defaultdict(lambda: [0, 0])
    for d, us in day_users.items():
        rec = per_mo[d // 30]
        rec[0] += 1
        rec[1] += len(us)
    got = run("events_dau_mau_stickiness")
    assert len(got) == len(per_mo)
    for row in got.itertuples(index=False):
        n_days, sum_dau = per_mo[int(row.month_idx)]
        mau = len(mo_users[int(row.month_idx)])
        assert row.n_days == n_days
        assert row.avg_dau == sum_dau // n_days
        assert row.mau == mau
        assert row.stickiness_milli == 1000 * sum_dau // (n_days * mau)


def test_isotropy_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.ml import _ISO_DIMS

    qs = [_quant(r.embedding, _ISO_DIMS) for r in tables["embeddings"].itertuples()]
    n = len(qs)
    d = _ISO_DIMS
    gram = [[sum(q[i] * q[j] for q in qs) for j in range(d)] for i in range(d)]
    trace = sum(gram[i][i] for i in range(d))
    fro2 = sum(gram[i][j] ** 2 for i in range(d) for j in range(d))
    mean2 = sum(sum(q[i] for q in qs) ** 2 for i in range(d))
    got = run("embed_isotropy_participation").iloc[0]
    assert got.n_vectors == n
    assert got.n_dims == d
    assert got.trace == trace
    assert got.participation_ratio_milli == math.floor(
        trace * float(trace) / float(fro2) * 1000
    )
    assert got.mean_vector_share_ppm == 1000000 * mean2 // (n * trace)
    assert 1000 <= got.participation_ratio_milli <= d * 1000


def test_youden_matches_python(run, tables):
    ev = tables["events"]
    rows = [
        (int(round(v * 100)), 1 if t == "purchase" else 0)
        for v, t in zip(ev["value"], ev["event_type"])
    ]
    p = sum(y for _, y in rows)
    neg = len(rows) - p
    best = None
    for t in sorted({s for s, _ in rows}):
        tp = sum(1 for s, y in rows if s >= t and y)
        fp = sum(1 for s, y in rows if s >= t and not y)
        j = 1000000 * tp // p - 1000000 * fp // neg
        key = (-j, t)
        if best is None or key < best[0]:
            best = (key, t, tp, fp, j)
    _, t, tp, fp, j = best
    got = run("ml_threshold_youden").iloc[0]
    assert got.threshold_cents == t
    assert got.tp == tp
    assert got.fp == fp
    assert got.youden_micro == j
