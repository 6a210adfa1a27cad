"""Third-implementation cross-checks for the round-5 batch-32
operators (`plans/relational45.py`): the power analysis and mixture
epochs recomputed in pure Python with the same literals and integer
floors — exact ``==``, plus structural bounds (the budget allocation
must sum to ~the declared budget; epochs > 1 exactly for
below-average sources)."""

from __future__ import annotations

import math
from collections import Counter

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


def test_power_analysis_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.ml import (
        _PA_LIFT_MICRO,
        _PA_ZSUM2_MICRO,
    )

    ev = tables["events"]
    n = len(ev)
    k = int((ev.event_type == "purchase").sum())
    users = ev.user_id.nunique()
    u = (
        ev.ts.dt.floor("us") - pd.Timestamp("1970-01-01")
    ) // pd.Timedelta(microseconds=1)
    span = int(u.max() - u.min())
    phat = float(k) / n
    lift = _PA_LIFT_MICRO / 1_000_000.0
    n_arm = 2 * phat * (1 - phat) * _PA_ZSUM2_MICRO / 1_000_000.0 / lift / lift
    rate = float(users) * 86_400_000_000 / span
    got = run("ml_power_analysis").iloc[0]
    assert int(got.n_events) == n
    assert int(got.n_conversions) == k
    assert int(got.p_micro) == math.floor(phat * 1_000_000)
    assert int(got.n_per_arm) == math.floor(n_arm)
    assert int(got.users_per_day) == math.floor(rate)
    assert int(got.days_needed) == math.floor(n_arm * 2 / rate)


def test_mixture_epochs_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.curate import (
        _ME_ALPHA,
        _ME_BUDGET_X,
    )

    toks = Counter()
    for r in tables["documents"].itertuples():
        toks[str(r.source)] += len(
            [w for w in str(r.text).split(" ") if w]
        )
    tt = sum(toks.values())
    w = {
        s: math.floor((t / tt) ** _ME_ALPHA * 1_000_000)
        for s, t in toks.items()
    }
    wt = sum(w.values())
    got = run("curate_mixture_epochs")
    budget_sum = 0
    for r in got.itertuples():
        s = str(r.source)
        budget = w[s] * tt * _ME_BUDGET_X // wt
        assert int(r.n_tokens) == toks[s]
        assert int(r.w_mix_micro) == w[s] * 1_000_000 // wt
        assert int(r.budget_tokens) == budget
        assert int(r.epochs_micro) == budget * 1_000_000 // toks[s]
        budget_sum += budget
        # temperature flattening: clearly-below-average sources
        # oversample (2% margin dwarfs the 1e-6 floor granularity)
        if toks[s] * len(toks) < tt * 0.98:
            assert int(r.epochs_micro) > _ME_BUDGET_X * 1_000_000
    # floor losses only: the allocation must land within one token
    # per source of the declared 2x budget
    assert 0 <= tt * _ME_BUDGET_X - budget_sum < len(toks)
