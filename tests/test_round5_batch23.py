"""Third-implementation cross-checks for the round-5 batch-23
operators (`plans/relational38.py`): the batch-GD logistic trainer
and the Fourier periodogram recomputed in pure Python from the
parquet fixtures with exact ``==`` comparisons (per-row floors +
arbitrary-precision int sums replicate the fixed-point contracts).
"""

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


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (both engines' DIV)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def test_logreg_matches_pure_python_gd(run, tables):
    from boat_etl_pyspark_spark.plans.ml import (
        _LR_ITERS,
        _LR_MILLI,
        _LR_STOPS,
    )

    got = run("ml_logreg_quality")
    feats = []
    for r in tables["documents"].itertuples():
        toks = [t for t in str(r.text).lower().split(" ") if t != ""]
        nt = max(len(toks), 1)
        x1 = sum(1 for t in toks if t in _LR_STOPS) * 1000 // nt
        x2 = min(len(str(r.text).replace(" ", "")) * 1000 // nt, 20000) // 20
        feats.append((x1, x2, 1 if r.lang == "en" else 0))
    n = len(feats)
    w = [0, 0, 0]
    want = []
    for it in range(1, _LR_ITERS + 1):
        g = [0, 0, 0]
        acc = loss = 0
        for x1, x2, y in feats:
            z_nano = w[0] * 1000 + w[1] * x1 + w[2] * x2
            p = 1.0 / (1.0 + math.exp(-z_nano / 1e9))
            p = max(min(p, 1 - 1e-9), 1e-9)
            resid = math.floor((y - p) * 1_000_000)
            g[0] += resid * 1000
            g[1] += resid * x1
            g[2] += resid * x2
            acc += 1 if (z_nano >= 0) == (y == 1) else 0
            loss += math.floor(-math.log(p if y == 1 else 1 - p) * 1_000_000)
        w = [w[j] + _tdiv(_LR_MILLI * g[j], n * 1_000_000) for j in range(3)]
        want.append((it, w[0], w[1], w[2], acc * 1_000_000 // n, loss // n))
    assert [
        (
            int(r.iter),
            int(r.w0_micro),
            int(r.w1_micro),
            int(r.w2_micro),
            int(r.acc_ppm),
            int(r.loss_micro),
        )
        for r in got.itertuples()
    ] == want
    # the trainer actually learns: accuracy up, loss down across steps
    assert want[-1][4] > want[0][4] and want[-1][5] < want[0][5]


def test_periodogram_matches_pure_python_dft(run, tables):
    from boat_etl_pyspark_spark.plans.ts import _DAY_US, _PG_KMAX

    got = run("ts_periodogram")
    us = tables["events"]["ts"].astype("datetime64[us]").astype("int64")
    days = Counter(int(u) // _DAY_US for u in us)
    dmin, dmax = min(days), max(days)
    n_days = dmax - dmin + 1
    want = []
    for k in range(1, _PG_KMAX + 1):
        a = sum(
            math.floor(c * math.cos(2 * math.pi * k * (d - dmin) / n_days) * 1e6)
            for d, c in days.items()
        )
        b = sum(
            math.floor(c * math.sin(2 * math.pi * k * (d - dmin) / n_days) * 1e6)
            for d, c in days.items()
        )
        want.append((k, n_days * 100 // k, (a * a + b * b) // 1_000_000))
    assert [
        (int(r.k), int(r.period_centi_days), int(r.power_micro))
        for r in got.itertuples()
    ] == want
