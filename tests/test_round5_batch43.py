"""Third-implementation cross-checks for the round-5 batch-43 operators
(`plans/ml.py`, `plans/ts.py`, `plans/window.py`): RSI, ECE and the
EWMA control chart recomputed in pure Python — exact ``==`` on every
integer column, plus structural guarantees (RSI bounded in [0, 100k];
the EWMA obeys its own recursion within integer-shift error)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd


def test_rsi_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.window import _RSI_W

    daily = defaultdict(int)
    for d, tp in zip(tables["orders"]["o_orderdate"], tables["orders"]["o_totalprice"]):
        daily[str(pd.Timestamp(d).date())] += int(round(tp * 100))
    days = sorted(daily)
    xs = [daily[d] for d in days]
    gains = [max(xs[i] - xs[i - 1], 0) for i in range(1, len(xs))]
    losses = [max(xs[i - 1] - xs[i], 0) for i in range(1, len(xs))]
    got = run("window_rsi_14")
    assert len(got) == len(gains) - _RSI_W + 1
    by_day = {r.day: r for r in got.itertuples(index=False)}
    for k in range(_RSI_W - 1, len(gains)):
        sg = sum(gains[k - _RSI_W + 1 : k + 1])
        sl = sum(losses[k - _RSI_W + 1 : k + 1])
        r = by_day[days[k + 1]]
        assert r.gain_sum_cents == sg
        assert r.loss_sum_cents == sl
        rsi = 100000 * sg // (sg + sl) if sg + sl > 0 else 50000
        assert r.rsi_milli == rsi
        assert 0 <= r.rsi_milli <= 100000


def test_ece_matches_python(run, tables):
    ev = tables["events"]
    bins = defaultdict(lambda: [0, 0, 0])
    for v, t in zip(ev["value"], ev["event_type"]):
        p = min(int(round(v * 100)) * 2500, 1000000)
        y = 1 if t == "purchase" else 0
        b = min(p // 100000, 9)
        rec = bins[b]
        rec[0] += 1
        rec[1] += p
        rec[2] += y
    n = sum(r[0] for r in bins.values())
    gaps = {
        b: abs(sp // nk - sy * 1000000 // nk) for b, (nk, sp, sy) in bins.items()
    }
    ece = sum(bins[b][0] * g for b, g in gaps.items()) // n
    got = run("ml_calibration_ece").iloc[0]
    assert got.n_events == n
    assert got.n_bins == len(bins)
    assert got.ece_ppm == ece
    assert got.max_ece_ppm == max(gaps.values())


def test_ewma_control_chart_matches_python(run, tables):
    ev = tables["events"].copy()
    ev["t_us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    daily = Counter(t // 86_400_000_000 for t in ev["t_us"])
    xs = [daily[d] for d in sorted(daily)]
    n = len(xs)
    s1 = sum(xs)
    s2 = sum(v * v for v in xs)
    sigma = math.sqrt((s2 * n - s1 * s1) / (n * n))
    upper = math.floor((s1 / n + 3 * sigma / math.sqrt(3.0)) * 1000)
    lower = math.floor((s1 / n - 3 * sigma / math.sqrt(3.0)) * 1000)
    ewmas = []
    for t in range(1, n + 1):
        z = sum(
            (xs[s - 1] * 1000) >> (t - s + 1)
            for s in range(max(2, t - 61), t + 1)
        )
        if t - 1 <= 62 and 1 > t - 62:
            z += (xs[0] * 1000) >> (t - 1)
        ewmas.append(z)
    got = run("ts_ewma_control_chart").sort_values("day_idx")
    assert len(got) == n
    for row, z, x in zip(got.itertuples(index=False), ewmas, xs):
        assert row.n_events == x
        assert row.ewma_milli == z
        assert row.upper_milli == upper
        assert row.lower_milli == lower
        flag = 1 if z > upper else (-1 if z < lower else 0)
        assert row.out_of_control == flag
    # the bit-shift EWMA tracks its own recursion: z_t ≈ (x_t*1000 + z_{t-1})/2
    for t in range(1, n):
        exact = (xs[t] * 1000 + ewmas[t - 1]) // 2
        assert abs(ewmas[t] - exact) <= t + 1  # accumulated floor error only
