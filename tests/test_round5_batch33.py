"""Third-implementation cross-checks for the round-5 batch-33
operators (`plans/relational46.py`): SRM, the deterministic
permutation test and degree assortativity recomputed in pure Python
(hashlib permutations, itertools pairs) — exact ``==``, plus the
structural guarantee that the fixture's hash split raises no SRM."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from itertools import combinations

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


def test_srm_check_matches_python(run, tables):
    users = set(tables["events"].user_id.astype(int))
    n0 = sum(1 for u in users if u % 2 == 0)
    n1 = len(users) - n0
    chi2 = (n0 - n1) ** 2 * 1000 // (n0 + n1)
    got = run("events_ab_srm_check").iloc[0]
    assert int(got.n_control) == n0
    assert int(got.n_treat) == n1
    assert int(got.chi2_milli) == chi2
    assert bool(got.srm_detected) == (chi2 > 3841)
    assert not bool(got.srm_detected)  # hash split must be healthy


def test_permutation_test_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.agg import _PERM_K

    ev = tables["events"]
    uid = ev.user_id.astype(int).tolist()
    v = [math.floor(x * 1000) for x in ev.value]

    def lift(arms):
        s = [0, 0]
        n = [0, 0]
        for a, vv in zip(arms, v):
            s[a] += vv
            n[a] += 1
        return math.floor((float(s[1]) / n[1] - float(s[0]) / n[0]) * 1000)

    obs = lift([u % 2 for u in uid])
    extreme = 0
    for p in range(_PERM_K):
        arms = [
            int(hashlib.md5(f"{u}:{p}".encode()).hexdigest()[:12], 16) % 2
            for u in uid
        ]
        if abs(lift(arms)) >= abs(obs):
            extreme += 1
    got = run("agg_permutation_test_lift").iloc[0]
    assert int(got.observed_lift_micro) == obs
    assert int(got.n_perms) == _PERM_K
    assert int(got.n_as_extreme) == extreme
    assert int(got.p_value_ppm) == (1 + extreme) * 1_000_000 // (_PERM_K + 1)


def test_assortativity_matches_python(run, tables):
    li = tables["lineitem"]
    orders = defaultdict(set)
    for r in li.itertuples():
        orders[int(r.l_orderkey)].add(int(r.l_partkey))
    pairs = set()
    for parts in orders.values():
        pairs.update(combinations(sorted(parts), 2))
    deg = Counter()
    for a, b in pairs:
        deg[a] += 1
        deg[b] += 1
    xs = []
    for a, b in pairs:
        xs.append((deg[a], deg[b]))
        xs.append((deg[b], deg[a]))
    m = len(xs)
    sx = sum(x for x, _ in xs)
    sy = sum(y for _, y in xs)
    sxy = sum(x * y for x, y in xs)
    sxx = sum(x * x for x, _ in xs)
    syy = sum(y * y for _, y in xs)
    r = (float(m) * float(sxy) - float(sx) * float(sy)) / math.sqrt(
        (float(m) * float(sxx) - float(sx) * float(sx))
        * (float(m) * float(syy) - float(sy) * float(sy))
    )
    got = run("graph_degree_assortativity").iloc[0]
    assert int(got.n_nodes) == len(deg)
    assert int(got.n_edges) == len(pairs)
    assert int(got.assortativity_micro) == math.floor(r * 1_000_000)
