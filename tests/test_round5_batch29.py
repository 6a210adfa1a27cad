"""Third-implementation cross-checks for the round-5 batch-29 ML
operators (`plans/relational43.py`): boosted stumps and the learning
curve replayed in pure Python over the raw parquet (same histogram,
same float split scores, same floor-division leaves), Pythagorean
means from per-term integer floors — exact ``==`` plus the
AM >= GM >= HM structural bound."""

from __future__ import annotations

import math
from collections import defaultdict

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


def test_gbdt_boosted_stumps_match_python(run, tables):
    from boat_etl_pyspark_spark.plans.ml import _BINS, _ROUNDS

    orders = tables["orders"]
    d = (
        orders.o_orderdate.dt.normalize() - pd.Timestamp("1970-01-01")
    ).dt.days.astype(int)
    y = (orders.o_totalprice * 100).map(math.floor).astype(int)
    lo, hi = int(d.min()), int(d.max())
    n = defaultdict(int)
    sY = defaultdict(int)
    for dd, yy in zip(d, y):
        b = min((dd - lo) * _BINS // max(hi - lo, 1), _BINS - 1)
        n[b] += 1
        sY[b] += int(yy)
    want = []
    for _ in range(_ROUNDS):
        bins = sorted(n)
        nt = sum(n.values())
        st = sum(sY.values())
        best = None
        nl = sl = 0
        for b in bins:
            nl += n[b]
            sl += sY[b]
            if nl == 0 or nt - nl == 0:
                continue
            score = float(sl) * sl / nl + float(st - sl) * (st - sl) / (
                nt - nl
            )
            if best is None or (-score, b) < (-best[0], best[1]):
                best = (score, b, nl, nt - nl, sl, st - sl)
        _, cut, nl, nr, sl, sr = best
        leafl = math.floor(float(sl) / nl)
        leafr = math.floor(float(sr) / nr)
        want.append((cut, nl, nr, leafl, leafr))
        for b in bins:
            sY[b] -= n[b] * (leafl if b <= cut else leafr)
    got = run("ml_gbdt_boosted_stumps")
    assert [
        (
            int(r.cut_bin),
            int(r.n_left),
            int(r.n_right),
            int(r.leaf_left_cents),
            int(r.leaf_right_cents),
        )
        for r in got.itertuples()
    ] == want


def test_learning_curve_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.ml import _BINS, _LC_FRACS

    orders = tables["orders"]
    g = (orders.o_orderkey % 5).astype(int)
    v = (orders.o_totalprice * 100).map(math.floor).astype(int)
    y = (orders.o_orderstatus == "F").astype(int)
    lo, hi = int(v.min()), int(v.max())
    bins = ((v - lo) * _BINS // max(hi - lo, 1)).clip(upper=_BINS - 1)
    hist = defaultdict(lambda: defaultdict(int))
    for bb, gg, yy in zip(bins, g, y):
        h = hist[int(bb)]
        h["hn"] += gg == 0
        h["hp"] += (gg == 0) * int(yy)
        for k in _LC_FRACS:
            if 1 <= gg <= k:
                h[f"n{k}"] += 1
                h[f"p{k}"] += int(yy)
    want = []
    for k in _LC_FRACS:
        nt = sum(h[f"n{k}"] for h in hist.values())
        post = sum(h[f"p{k}"] for h in hist.values())
        best = None
        nl = posl = 0
        for b in sorted(hist):
            nl += hist[b][f"n{k}"]
            posl += hist[b][f"p{k}"]
            nr, posr = nt - nl, post - posl
            if nl == 0 or nr == 0:
                continue

            def gini(p, nn):
                return 1 - (p / nn) ** 2 - ((nn - p) / nn) ** 2

            score = nl / nt * gini(posl, nl) + nr / nt * gini(posr, nr)
            if best is None or (score, b) < (best[0], best[1]):
                best = (score, b, nl, posl, nr, posr)
        _, cut, nl, posl, nr, posr = best
        hnl = sum(h["hn"] for b, h in hist.items() if b <= cut)
        hpl = sum(h["hp"] for b, h in hist.items() if b <= cut)
        hnr = sum(h["hn"] for b, h in hist.items() if b > cut)
        hpr = sum(h["hp"] for b, h in hist.items() if b > cut)
        err = (hnl - hpl if 2 * posl > nl else hpl) + (
            hnr - hpr if 2 * posr > nr else hpr
        )
        want.append(
            (k, nt, cut, hnl + hnr, err * 1_000_000 // (hnl + hnr))
        )
    got = run("ml_learning_curve")
    assert [
        (
            int(r.train_buckets),
            int(r.train_n),
            int(r.cut_bin),
            int(r.holdout_n),
            int(r.holdout_err_ppm),
        )
        for r in got.itertuples()
    ] == want


def test_pythagorean_means_match_python_and_am_gm_hm(run, tables):
    orders = tables["orders"]
    got = run("agg_geometric_harmonic_means")
    by_pri = defaultdict(list)
    for r in orders.itertuples():
        if r.o_totalprice > 0:
            by_pri[str(r.o_orderpriority)].append(
                math.floor(r.o_totalprice * 100)
            )
    for row in got.itertuples():
        ys = by_pri[str(row.pri)]
        nn = len(ys)
        slog = sum(math.floor(math.log(float(x)) * 1_000_000) for x in ys)
        sinv = sum(math.floor(1e12 / x) for x in ys)
        assert int(row.n_orders) == nn
        assert int(row.arith_mean_cents) == sum(ys) // nn
        assert int(row.geo_mean_cents) == math.floor(
            math.exp(float(slog) / nn / 1_000_000)
        )
        assert int(row.harm_mean_cents) == math.floor(float(nn) * 1e12 / sinv)
        assert (
            int(row.arith_mean_cents)
            >= int(row.geo_mean_cents)
            >= int(row.harm_mean_cents)
        )
