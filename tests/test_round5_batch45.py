"""Third-implementation cross-checks for the round-5 batch-45
operators (`plans/relational58.py`): the hash-collision budget and
class-balance audit recomputed in pure Python — exact ``==``."""

from __future__ import annotations

import hashlib
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


def test_hash_collision_budget_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.validate import _HCB_SHINGLE

    grams = set()
    for text in tables["documents"]["text"]:
        toks = [w for w in str(text).split(" ") if w]
        for i in range(len(toks) - _HCB_SHINGLE + 1):
            grams.add(" ".join(toks[i : i + _HCB_SHINGLE]))
    hashes = {int(hashlib.md5(g.encode()).hexdigest()[:12], 16) for g in grams}
    n = len(grams)
    got = run("validate_hash_collision_budget").iloc[0]
    assert got.n_distinct_grams == n
    assert got.n_distinct_hashes == len(hashes)
    assert got.observed_collisions == n - len(hashes)
    assert got.expected_collisions_micro == n * (n - 1) * 1000000 // 2**49
    # the contract the overlap matrix documents: collisions at fixture
    # scale should be zero (and in expectation far below one)
    assert got.observed_collisions == 0


def test_class_balance_audit_matches_python(run, tables):
    counts = Counter(int(v) for v in tables["embeddings"]["label"])
    k = len(counts)
    nn = sum(counts.values())
    h_num = sum(
        math.floor(n * math.log(nn / n) * 1000000) for n in counts.values()
    )
    got = run("ml_class_balance_audit").iloc[0]
    assert got.n_classes == k
    assert got.n_examples == nn
    assert got.n_largest == max(counts.values())
    assert got.n_smallest == min(counts.values())
    assert got.imbalance_ratio_milli == 1000 * max(counts.values()) // min(
        counts.values()
    )
    assert got.label_entropy_micro_nats == h_num // nn
    assert got.balance_ppm == math.floor(
        (h_num // nn) * 1000000 / math.floor(math.log(k) * 1000000)
    )
    assert 0 < got.balance_ppm <= 1000001
