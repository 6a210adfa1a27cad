"""Third-implementation cross-checks for the round-5 batch-31
operators (`plans/relational44.py`): temperature weights, the Markov
power iteration, and the SPRT replayed in pure Python with the same
integer contracts — exact ``==`` comparisons, plus structural
assertions (stationary mass conservation, the no-early-stop
outcome)."""

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


def test_language_temperature_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.curate import _TEMP_ALPHA

    counts = Counter(tables["documents"].lang)
    nt = sum(counts.values())
    w = {
        L: math.floor((n / nt) ** _TEMP_ALPHA * 1_000_000)
        for L, n in counts.items()
    }
    wt = sum(w.values())
    got = run("curate_language_temperature")
    for r in got.itertuples():
        L = str(r.lang)
        assert int(r.n_docs) == counts[L]
        assert int(r.p_micro) == counts[L] * 1_000_000 // nt
        assert int(r.w_temp_micro) == w[L] * 1_000_000 // wt
        assert int(r.expected_docs) == w[L] * nt // wt
    # temperature flattens: every below-average language is upsampled
    for r in got.itertuples():
        if int(r.p_micro) < 1_000_000 // len(counts):
            assert int(r.w_temp_micro) > int(r.p_micro)


def test_markov_stationary_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.events import (
        _PI_ITERS,
        _PI_SCALE,
    )

    ev = tables["events"].sort_values(["user_id", "ts", "event_id"])
    trans = Counter()
    for _, grp in ev.groupby("user_id", sort=False):
        types = list(grp.event_type)
        for a, b in zip(types, types[1:]):
            trans[(a, b)] += 1
    tot = Counter()
    for (a, _), c in trans.items():
        tot[a] += c
    states = sorted(tot)
    pi = {s: _PI_SCALE // len(states) for s in states}
    prev = None
    for _ in range(_PI_ITERS):
        prev = dict(pi)
        nxt = defaultdict(int)
        for (a, b), c in trans.items():
            nxt[b] += pi[a] * c // tot[a]
        pi = dict(nxt)
    delta = sum(abs(pi[s] - prev[s]) for s in states)
    got = run("events_markov_stationary")
    assert {
        str(r.event_type): (int(r.pi_ppb), int(r.delta_l1_e12))
        for r in got.itertuples()
    } == {s: (pi[s] // 1000, delta) for s in states}
    # mass conservation: floor losses only, bounded by iters * edges
    assert 0 <= _PI_SCALE - sum(pi.values()) < _PI_ITERS * len(trans) * 2
    assert delta < _PI_SCALE // 1000  # converged to < 0.1% L1


def test_sprt_matches_python_and_does_not_early_stop(run, tables):
    from boat_etl_pyspark_spark.plans.events import (
        _SPRT_B,
        _SPRT_L0,
        _SPRT_L1,
    )

    ev = tables["events"].copy()
    ev["u"] = (
        ev.ts.dt.floor("us") - pd.Timestamp("1970-01-01")
    ) // pd.Timedelta(microseconds=1)
    ev = ev.sort_values(["u", "event_id"])
    cum = 0
    n_up = n_dn = 0
    first_up = first_dn = None
    total = 0
    for r in ev.itertuples():
        llr = _SPRT_L1 if r.event_type == "purchase" else _SPRT_L0
        cum += llr
        total += llr
        if cum >= _SPRT_B:
            n_up += 1
            first_up = first_up if first_up is not None else int(r.u)
        if cum <= -_SPRT_B:
            n_dn += 1
            first_dn = first_dn if first_dn is not None else int(r.u)
    got = run("events_sprt_ab_test").iloc[0]
    assert int(got.n_events) == len(ev)
    assert int(got.final_llr_micro) == total
    assert int(got.n_above_upper) == n_up
    assert int(got.n_below_lower) == n_dn

    def _opt(x):
        return None if pd.isna(x) else int(x)

    assert _opt(got.first_upper_us) == first_up
    assert _opt(got.first_lower_us) == first_dn
