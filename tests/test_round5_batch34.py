"""Third-implementation cross-checks for the round-5 batch-34 operators
(`plans/curate.py`, `plans/events.py`): CUPED and the threshold sweep
replayed in pure Python with the same integer contracts — exact
``==``, plus structure (sweep cumulative fractions must be monotone
and end at 100%)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd


def test_cuped_matches_python(run, tables):
    ev = tables["events"].copy()
    ev["u"] = (
        ev.ts.dt.floor("us") - pd.Timestamp("1970-01-01")
    ) // pd.Timedelta(microseconds=1)
    ev["v"] = ev.value.map(lambda x: math.floor(x * 1000)).astype(int)
    mid = int(ev.u.min()) + (int(ev.u.max()) - int(ev.u.min())) // 2
    per = defaultdict(lambda: [0, 0])
    for r in ev.itertuples():
        per[int(r.user_id)][0 if r.u < mid else 1] += int(r.v)
    n = len(per)
    xs = {u: xy[0] for u, xy in per.items()}
    ys = {u: xy[1] for u, xy in per.items()}
    sx, sy = sum(xs.values()), sum(ys.values())
    sxy = sum(xs[u] * ys[u] for u in per)
    sxx = sum(x * x for x in xs.values())
    syy = sum(y * y for y in ys.values())
    theta = (float(n) * float(sxy) - float(sx) * float(sy)) / (
        float(n) * float(sxx) - float(sx) * float(sx)
    )
    rho = (float(n) * float(sxy) - float(sx) * float(sy)) / math.sqrt(
        (float(n) * float(sxx) - float(sx) * float(sx))
        * (float(n) * float(syy) - float(sy) * float(sy))
    )
    arms = {u: u % 2 for u in per}
    n1 = sum(1 for u in per if arms[u] == 1)
    n0 = n - n1
    sy1 = sum(ys[u] for u in per if arms[u] == 1)
    sy0 = sy - sy1
    sx1 = sum(xs[u] for u in per if arms[u] == 1)
    sx0 = sx - sx1
    raw = float(sy1) / n1 - float(sy0) / n0
    adj = (
        float(sy1) / n1 - theta * (float(sx1) / n1 - float(sx) / n)
    ) - (float(sy0) / n0 - theta * (float(sx0) / n0 - float(sx) / n))
    got = run("events_cuped_variance_reduction").iloc[0]
    assert int(got.n_users) == n
    assert int(got.theta_micro) == math.floor(theta * 1_000_000)
    assert int(got.lift_raw_micro) == math.floor(raw * 1000)
    assert int(got.lift_cuped_micro) == math.floor(adj * 1000)
    assert int(got.var_reduction_ppm) == math.floor(rho * rho * 1_000_000)


def test_quality_threshold_sweep_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.curate import _SWEEP_BINS

    toks = {
        int(r.doc_id): [w for w in str(r.text).split(" ") if w]
        for r in tables["documents"].itertuples()
    }
    corpus = Counter()
    for ws in toks.values():
        corpus.update(ws)
    total = sum(corpus.values())
    score = {}
    ntok = {}
    for d, ws in toks.items():
        s = sum(
            math.floor(-math.log(corpus[w] / total) * 1_000_000)
            for w in ws
        )
        score[d] = s // len(ws)
        ntok[d] = len(ws)
    lo, hi = min(score.values()), max(score.values())
    hist_d = Counter()
    hist_t = Counter()
    for d in score:
        b = min((score[d] - lo) * _SWEEP_BINS // max(hi - lo, 1),
                _SWEEP_BINS - 1)
        hist_d[b] += 1
        hist_t[b] += ntok[d]
    td, tt = sum(hist_d.values()), sum(hist_t.values())
    want = []
    cd = ct = 0
    for b in sorted(hist_d):
        cd += hist_d[b]
        ct += hist_t[b]
        want.append(
            (
                b,
                lo + (b + 1) * (hi - lo) // _SWEEP_BINS,
                cd,
                cd * 1_000_000 // td,
                ct * 1_000_000 // tt,
            )
        )
    got = run("curate_quality_threshold_sweep")
    rows = [
        (
            int(r.bin),
            int(r.threshold_micro),
            int(r.docs_kept),
            int(r.docs_kept_ppm),
            int(r.tokens_kept_ppm),
        )
        for r in got.itertuples()
    ]
    assert rows == want
    # cumulative curve is monotone and ends at exactly 100%
    assert all(a[3] <= b[3] for a, b in zip(rows, rows[1:]))
    assert rows[-1][3] == 1_000_000 and rows[-1][4] == 1_000_000
