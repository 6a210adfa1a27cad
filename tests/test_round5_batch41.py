"""Third-implementation cross-checks for the round-5 batch-41 operators
(`plans/agg.py`, `plans/events.py`, `plans/ts.py`): Markov entropy
rate, Gumbel block maxima and Nelson-Aalen hazard recomputed in pure
Python — exact ``==`` on every integer column, plus the structural
guarantees (entropy rate ≤ marginal entropy; cumulative hazard
non-decreasing; NA risk sets identical to the KM op's)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd


def test_markov_entropy_rate_matches_python(run, tables):
    ev = tables["events"].copy()
    ev["t_us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    trans = Counter()
    for _, grp in ev.groupby("user_id"):
        seq = [
            et
            for _, _, et in sorted(
                zip(grp["t_us"], grp["event_id"], grp["event_type"])
            )
        ]
        trans.update(zip(seq, seq[1:]))
    tot = Counter()
    ctot = Counter()
    for (p, n), c in trans.items():
        tot[p] += c
        ctot[n] += c
    t = sum(trans.values())
    rate_num = sum(
        math.floor(c * math.log(tot[p] / c) * 1000000)
        for (p, n), c in trans.items()
    )
    marg_num = sum(
        math.floor(cn * math.log(t / cn) * 1000000) for cn in ctot.values()
    )
    got = run("events_markov_entropy_rate").iloc[0]
    assert got.n_transitions == t
    assert got.n_states == len(ctot)
    assert got.entropy_rate_micro_nats == rate_num // t
    assert got.marginal_entropy_micro_nats == marg_num // t
    assert got.chain_information_micro_nats == marg_num // t - rate_num // t
    assert got.entropy_rate_micro_nats <= got.marginal_entropy_micro_nats


def test_gumbel_matches_python(run, tables):
    daily = defaultdict(int)
    for d, tp in zip(tables["orders"]["o_orderdate"], tables["orders"]["o_totalprice"]):
        daily[str(pd.Timestamp(d).date())] += int(round(tp * 100))
    xs = [daily[d] for d in sorted(daily)]
    blocks = [max(xs[i : i + 7]) for i in range(0, len(xs), 7)]
    n = len(blocks)
    s1 = sum(blocks)
    s2 = sum(b * b for b in blocks)
    sd = math.sqrt((s2 * n - s1 * s1) / (n * (n - 1)))
    meanf = s1 / n
    gamma = 0.5772156649015329
    beta = sd * math.sqrt(6.0) / math.pi
    mu = meanf - gamma * beta
    rl = mu - beta * math.log(-math.log(1.0 - 1.0 / 52))
    got = run("ts_extreme_value_gumbel").iloc[0]
    assert got.n_blocks == n
    assert got.mean_max_cents == s1 // n
    assert got.sd_max_cents == math.floor(sd)
    assert got.beta_cents == math.floor(beta)
    assert got.mu_cents == math.floor(mu)
    assert got.return_level_52_cents == math.floor(rl)


def test_nelson_aalen_matches_python(run, tables):
    ev = tables["events"].copy()
    ev["t_us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    durs = []
    for _, grp in ev.groupby("user_id"):
        start = int(grp["t_us"].min())
        last = int(grp["t_us"].max())
        errs = grp.loc[grp["event_type"] == "error", "t_us"]
        if len(errs):
            durs.append(((int(errs.min()) - start) // 86_400_000_000, True))
        else:
            durs.append(((last - start) // 86_400_000_000, False))
    exits = Counter(d for d, _ in durs)
    evs = Counter(d for d, f in durs if f)
    total = len(durs)
    got = run("agg_survival_nelson_aalen").sort_values("day")
    exited_before = 0
    cum = 0
    rows = iter(got.itertuples(index=False))
    for d in sorted(exits):
        if evs.get(d, 0) > 0:
            n_risk = total - exited_before
            step = 1000000 * evs[d] // n_risk
            cum += step
            r = next(rows)
            assert r.day == d
            assert r.n_risk == n_risk
            assert r.n_events == evs[d]
            assert r.hazard_step_micro == step
            assert r.cum_hazard_micro == cum
        exited_before += exits[d]
    # cumulative hazard is non-decreasing
    ch = got["cum_hazard_micro"].tolist()
    assert ch == sorted(ch)
