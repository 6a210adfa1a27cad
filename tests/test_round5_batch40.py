"""Third-implementation cross-checks for the round-5 batch-40
operators (`plans/relational53.py`): Bollinger bands, diversity
indices, burstiness, Ljung-Box, forecast baselines and reciprocity
recomputed in pure Python — exact ``==`` on every integer column."""

from __future__ import annotations

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


def _daily_revenue(tables):
    daily = defaultdict(int)
    for d, tp in zip(tables["orders"]["o_orderdate"], tables["orders"]["o_totalprice"]):
        daily[str(pd.Timestamp(d).date())] += int(round(tp * 100))
    return daily


def test_bollinger_bands_match_python(run, tables):
    from boat_etl_pyspark_spark.plans.window import _BOLL_WIN

    daily = _daily_revenue(tables)
    days = sorted(daily)
    xs = [daily[d] for d in days]
    got = run("window_bollinger_bands")
    expect_rows = len(days) - _BOLL_WIN + 1
    assert len(got) == expect_rows
    by_day = {r.day: r for r in got.itertuples(index=False)}
    for i in range(_BOLL_WIN - 1, len(days)):
        w = xs[i - _BOLL_WIN + 1 : i + 1]
        n = len(w)
        s1, s2 = sum(w), sum(v * v for v in w)
        mean = s1 // n
        sd = math.floor(math.sqrt((s2 * n - s1 * s1) / (n * n)))
        r = by_day[days[i]]
        assert r.revenue_cents == xs[i]
        assert r.mean_cents == mean
        assert r.sd_cents == sd
        assert r.upper_cents == mean + 2 * sd
        assert r.lower_cents == mean - 2 * sd
        flag = 1 if xs[i] > mean + 2 * sd else (-1 if xs[i] < mean - 2 * sd else 0)
        assert r.outside_band == flag


def test_diversity_indices_match_python(run, tables):
    li = tables["lineitem"].merge(
        tables["part"], left_on="l_partkey", right_on="p_partkey"
    ).merge(
        tables["supplier"], left_on="l_suppkey", right_on="s_suppkey"
    ).merge(
        tables["nation"], left_on="s_nationkey", right_on="n_nationkey"
    ).merge(
        tables["region"], left_on="n_regionkey", right_on="r_regionkey"
    )
    counts = Counter(zip(li["r_name"], li["p_type"]))
    per_region = defaultdict(Counter)
    for (r, t), c in counts.items():
        per_region[r][t] = c
    got = run("agg_diversity_indices")
    assert len(got) == len(per_region)
    for row in got.itertuples(index=False):
        cs = per_region[row.region]
        nn = sum(cs.values())
        sh = sum(
            math.floor(c * math.log(nn / c) * 1000000) for c in cs.values()
        )
        simp = sum(c * (c - 1) for c in cs.values())
        assert row.n_items == nn
        assert row.richness == len(cs)
        assert row.shannon_micro_nats == sh // nn
        lam = 1000000 * simp // (nn * (nn - 1))
        assert row.simpson_concentration_ppm == lam
        assert row.simpson_diversity_ppm == 1000000 - lam


def _interarrivals(tables):
    ev = tables["events"].copy()
    ev["t_us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    dts = []
    all_t = []
    for _, grp in ev.groupby("user_id"):
        ts = sorted(zip(grp["t_us"], grp["event_id"]))
        all_t.extend(t for t, _ in ts)
        dts.extend(ts[i][0] - ts[i - 1][0] for i in range(1, len(ts)))
    return dts, all_t


def test_burstiness_matches_python(run, tables):
    dts, all_t = _interarrivals(tables)
    n = len(dts)
    s1, s2 = sum(dts), sum(d * d for d in dts)
    sigma = math.sqrt(s2 * n - s1 * s1) / n
    mu = s1 / n
    b = math.floor((sigma - mu) / (sigma + mu) * 1000)
    hourly = Counter(t // 3_600_000_000 for t in all_t)
    hn = len(hourly)
    hs1 = sum(hourly.values())
    hs2 = sum(c * c for c in hourly.values())
    fano = math.floor(
        (hs2 * hn - hs1 * hs1) / (hn - 1) / hn / (hs1 / hn) * 1000
    )
    got = run("events_burstiness").iloc[0]
    assert got.n_intervals == n
    assert got.mean_dt_us == s1 // n
    assert got.burstiness_milli == b
    assert got.n_hours == hn
    assert got.fano_milli == fano


def test_ljung_box_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.agg import _LB_LAGS

    ev = tables["events"].copy()
    ev["t_us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    daily = Counter(t // 86_400_000_000 for t in ev["t_us"])
    xs = [daily[d] for d in sorted(daily)]
    n = len(xs)
    sx = sum(xs)
    sxx = sum(v * v for v in xs)
    q_sum = 0
    r1 = r7 = None
    for k in range(1, _LB_LAGS + 1):
        a = xs[k:]
        b = xs[:-k]
        sxy = sum(x * y for x, y in zip(a, b))
        sa, sb = sum(a), sum(b)
        num = n * n * sxy - n * sx * (sa + sb) + (n - k) * sx * sx
        den = n * n * sxx - n * sx * sx
        r = num / den
        if k == 1:
            r1 = math.floor(r * 1000000)
        if k == _LB_LAGS:
            r7 = math.floor(r * 1000000)
        q_sum += math.floor(r * r / (n - k) * 1000000000)
    got = run("agg_ljung_box").iloc[0]
    assert got.n_days == n
    assert got.r1_micro == r1
    assert got.r7_micro == r7
    assert got.lb_q_milli == n * (n + 2) * q_sum // 1000000


def test_forecast_error_matches_python(run, tables):
    daily = defaultdict(int)
    for d in tables["orders"]["o_orderdate"]:
        daily[str(pd.Timestamp(d).date())] += 1
    xs = [daily[d] for d in sorted(daily)]
    got = run("ml_forecast_error_eval")
    for row in got.itertuples(index=False):
        lag = 1 if row.model == "naive_1" else 7
        pairs = [(xs[i], xs[i - lag]) for i in range(lag, len(xs))]
        n = len(pairs)
        mae = 1000 * sum(abs(y - yh) for y, yh in pairs) // n
        smape = sum(2000 * abs(y - yh) // (y + yh) for y, yh in pairs) // n
        rmse = math.floor(
            math.sqrt(sum((y - yh) ** 2 for y, yh in pairs) / n) * 1000
        )
        assert row.n_days == n
        assert row.mae_milli == mae
        assert row.smape_milli_intdef == smape
        assert row.rmse_milli == rmse


def test_reciprocity_matches_python(run, tables):
    li = tables["lineitem"].merge(
        tables["orders"], left_on="l_orderkey", right_on="o_orderkey"
    ).merge(
        tables["supplier"], left_on="l_suppkey", right_on="s_suppkey"
    ).merge(
        tables["customer"], left_on="o_custkey", right_on="c_custkey"
    )
    w = Counter(zip(li["s_nationkey"], li["c_nationkey"]))
    e = {(s, d): c for (s, d), c in w.items() if s != d}
    n_edges = len(e)
    n_recip = sum(1 for (s, d) in e if (d, s) in e)
    tot_w = sum(e.values())
    rec_w = sum(min(c, e.get((d, s), 0)) for (s, d), c in e.items())
    got = run("graph_reciprocity").iloc[0]
    assert got.n_directed_edges == n_edges
    assert got.n_reciprocated == n_recip
    assert got.edge_reciprocity_ppm == 1000000 * n_recip // n_edges
    assert got.total_weight == tot_w
    assert got.reciprocated_weight == rec_w
    assert got.weight_reciprocity_ppm == 1000000 * rec_w // tot_w
