"""Third-implementation cross-checks for the round-5 batch-30
operators (`plans/similarity2.py`, `plans/streaming_plans2.py`):
IVF recall recomputed with pure-Python cosine ranking over the raw
embeddings, and the late-data audit's arithmetic recomputed from the
slice definitions — exact ``==`` comparisons, plus the structural
guarantees the streaming run must honor."""

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


def _cos(a, b):
    # same left-fold shape as the SQL aggregate(zip_with(...)) dot
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    return dot / (math.sqrt(na) * math.sqrt(nb))


def test_ivf_recall_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.sim import _RECALL_K

    emb = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in tables["embeddings"].itertuples()
    }
    cents = sorted(v for v in emb if v % 100 == 0)
    assign = {}
    for v in emb:
        assign[v] = min(
            cents, key=lambda c: (-_cos(emb[v], emb[c]), c)
        )
    probes = [3, 77, 154, 231, 308]
    want = []
    for q in probes:
        rank_all = sorted(
            (v for v in emb if v != q),
            key=lambda v: (-_cos(emb[q], emb[v]), v),
        )[:_RECALL_K]
        own = [
            v
            for v in emb
            if v != q and assign[v] == assign[q]
        ]
        rank_ivf = sorted(
            own, key=lambda v: (-_cos(emb[q], emb[v]), v)
        )[:_RECALL_K]
        overlap = len(set(rank_all) & set(rank_ivf))
        want.append(
            (q, _RECALL_K, overlap, overlap * 1_000_000 // _RECALL_K)
        )
    got = run("sim_ivf_recall_eval")
    assert [
        (int(r.q_vec_id), int(r.n_exact), int(r.n_overlap), int(r.recall_ppm))
        for r in got.itertuples()
    ] == want


def test_late_data_audit_matches_python(run, tables):
    ev = tables["events"].copy()
    ev["u"] = (
        ev.ts.dt.floor("us") - pd.Timestamp("1970-01-01")
    ) // pd.Timedelta(microseconds=1)
    ev = ev.sort_values(["u", "event_id"]).reset_index(drop=True)
    n = len(ev)
    i1, i2 = (2 * n) // 10, (3 * n) // 10
    win_us = 21_600_000_000
    wm = int(
        max(ev.u.iloc[:i1].max(), ev.u.iloc[i2:].max()) - 3_600_000_000
    )
    late = ev.iloc[i1:i2]
    dropped = int(((late.u // win_us + 1) * win_us <= wm).sum())
    ontime = pd.concat([ev.iloc[:i1], ev.iloc[i2:]])
    emitted = ontime[(ontime.u // win_us + 1) * win_us <= wm]
    cents = (emitted.value * 100).round().astype(int).sum()
    got = run("stream_late_data_audit").iloc[0]
    assert int(got.n_total) == n
    assert int(got.n_late) == i2 - i1
    assert int(got.n_late_dropped) == dropped
    assert int(got.n_late_parked) == (i2 - i1) - dropped
    # structural guarantees of the 4-file design: every late row's
    # window is closed, so all are dropped and none parked
    assert dropped == i2 - i1
    assert int(got.n_events_emitted) == len(emitted)
    assert int(got.n_windows_emitted) == emitted.u.floordiv(win_us).nunique()
    assert int(got.value_emitted_cents) == int(cents)
