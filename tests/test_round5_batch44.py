"""Third-implementation cross-checks for the round-5 batch-44
operators (`plans/relational57.py`): Hurst R/S, adversarial drift
AUC and the ulcer index recomputed in pure Python — exact ``==`` on
every integer column."""

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


def test_hurst_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.ts import _HURST_MS

    daily = Counter(
        str(pd.Timestamp(d).date()) for d in tables["orders"]["o_orderdate"]
    )
    xs = [daily[d] for d in sorted(daily)]
    mean_rs = {}
    n_blocks_total = 0
    for m in _HURST_MS:
        vals = []
        for b in range(len(xs) // m):
            blk = xs[b * m : (b + 1) * m]
            s1 = sum(blk)
            s2 = sum(v * v for v in blk)
            if m * s2 - s1 * s1 <= 0:
                continue
            cum = 0
            devs = []
            for i, v in enumerate(blk, 1):
                cum += v
                devs.append(m * cum - i * s1)
            r_scaled = max(devs) - min(min(devs), 0)
            vals.append(
                math.floor(r_scaled / math.sqrt(m * s2 - s1 * s1) * 1000000)
            )
        mean_rs[m] = sum(vals) // len(vals)
        n_blocks_total += len(vals)
    got = run("ts_hurst_exponent").iloc[0]
    assert got.n_blocks == n_blocks_total
    assert got.rs8_micro == mean_rs[8]
    assert got.rs16_micro == mean_rs[16]
    assert got.rs32_micro == mean_rs[32]
    assert got.rs64_micro == mean_rs[64]
    lx = [math.log(m) for m in _HURST_MS]
    ly = [math.log(mean_rs[m] / 1e6) for m in _HURST_MS]
    n = 4
    sxy = sum(y * x for x, y in zip(lx, ly))
    slope = (sxy * n - sum(ly) * sum(lx)) / (
        sum(x * x for x in lx) * n - sum(lx) * sum(lx)
    )
    # the plan's closed form uses the same term order; allow the last
    # milli unit for association differences in the hand expansion
    assert abs(got.hurst_milli - math.floor(slope * 1000)) <= 1
    assert 0 < got.hurst_milli < 1000


def test_drift_adversarial_matches_python(run, tables):
    orders = tables["orders"]
    rows = [
        (int(round(tp * 100)), pd.Timestamp(d).year)
        for tp, d in zip(orders["o_totalprice"], orders["o_orderdate"])
        if pd.Timestamp(d).year in (1996, 1997)
    ]
    pos = sorted(s for s, y in rows if y == 1997)
    neg = sorted(s for s, y in rows if y == 1996)
    # rank-sum AUC with midranks, doubled to stay integral
    allv = sorted(s for s, _ in rows)
    below = {}
    ct = Counter(allv)
    run_below = 0
    for s in sorted(ct):
        below[s] = run_below
        run_below += ct[s]
    r2_pos = sum(2 * below[s] + ct[s] + 1 for s in pos)
    auc_ppm = (r2_pos - len(pos) * (len(pos) + 1)) * 1000000 // (
        2 * len(pos) * len(neg)
    )
    got = run("validate_drift_adversarial").iloc[0]
    assert got.n_cohort_a == len(neg)
    assert got.n_cohort_b == len(pos)
    assert got.adversarial_auc_ppm == auc_ppm
    assert got.drift_score_ppm == abs(auc_ppm - 500000)


def test_ulcer_index_matches_python(run, tables):
    daily = defaultdict(int)
    for d, tp in zip(tables["orders"]["o_orderdate"], tables["orders"]["o_totalprice"]):
        daily[str(pd.Timestamp(d).date())] += int(round(tp * 100))
    xs = [daily[d] for d in sorted(daily)]
    pk = 0
    dds = []
    for x in xs:
        pk = max(pk, x)
        dds.append((pk - x) * 1000000 // pk)
    got = run("window_ulcer_index").iloc[0]
    assert got.n_days == len(xs)
    assert got.max_drawdown_micro == max(dds)
    assert got.n_days_underwater == sum(1 for d in dds if d > 0)
    assert got.ulcer_index_micro == math.floor(
        math.sqrt(sum(d * d for d in dds) / len(dds))
    )
