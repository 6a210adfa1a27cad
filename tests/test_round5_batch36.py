"""Third-implementation cross-checks for the round-5 batch-36 operators
(`plans/agg.py`, `plans/validate.py`): fold leakage, Chapman and
Chao1 recomputed in pure Python — exact ``==``, plus the structural
guarantees (signature-keyed folds never leak; Chapman brackets the
true count on this overlap structure)."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict


def test_fold_dup_leakage_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.validate import (
        _FOLDS,
        _SIG_TOKENS,
    )

    groups = defaultdict(list)
    for r in tables["documents"].itertuples():
        toks = [w for w in str(r.text).split(" ") if w]
        sig = " ".join(toks[:_SIG_TOKENS])
        groups[sig].append(int(r.doc_id))
    n_dup = sum(1 for ds in groups.values() if len(ds) > 1)
    leaky = [
        ds
        for ds in groups.values()
        if len({d % _FOLDS for d in ds}) > 1
    ]
    sig_leaky = 0
    for sig, ds in groups.items():
        f = int(hashlib.md5(sig.encode()).hexdigest()[:12], 16) % _FOLDS
        if len({f}) > 1:  # structurally impossible: one sig -> one fold
            sig_leaky += 1
    got = run("validate_fold_dup_leakage").iloc[0]
    assert int(got.n_groups) == len(groups)
    assert int(got.n_dup_groups) == n_dup
    assert int(got.n_leaky_by_id) == len(leaky)
    assert int(got.n_docs_leaky_by_id) == sum(len(d) for d in leaky)
    assert int(got.n_leaky_by_sig) == sig_leaky == 0


def test_capture_recapture_matches_python(run, tables):
    li = tables["lineitem"]
    seen_a = set()
    seen_b = set()
    allp = set()
    for r in li.itertuples():
        p = int(r.l_partkey)
        allp.add(p)
        if int(r.l_orderkey) % 50 == 0:
            seen_a.add(p)
        if int(r.l_orderkey) % 50 == 1:
            seen_b.add(p)
    n1, n2, m = len(seen_a), len(seen_b), len(seen_a & seen_b)
    est = (n1 + 1) * (n2 + 1) // (m + 1) - 1
    got = run("agg_capture_recapture").iloc[0]
    assert int(got.n_sample_a) == n1
    assert int(got.n_sample_b) == n2
    assert int(got.n_both) == m
    assert int(got.n_observed) == len(allp)
    assert int(got.chapman_estimate) == est
    # sanity: estimate within 20% of truth on this overlap structure
    assert abs(est - len(allp)) < len(allp) // 5


def test_chao1_matches_python(run, tables):
    grams = Counter()
    for r in tables["documents"].itertuples():
        t = [w for w in str(r.text).split(" ") if w]
        grams.update(
            " ".join(t[i : i + 3]) for i in range(len(t) - 2)
        )
    v = len(grams)
    f1 = sum(1 for c in grams.values() if c == 1)
    f2 = sum(1 for c in grams.values() if c == 2)
    est = v + f1 * (f1 - 1) // (2 * (f2 + 1))
    got = run("agg_chao1_vocab_estimate").iloc[0]
    assert int(got.n_grams) == sum(grams.values())
    assert int(got.v_observed) == v
    assert int(got.n_singletons) == f1
    assert int(got.n_doubletons) == f2
    assert int(got.chao1_estimate) == est
    assert int(got.coverage_ppm) == v * 1_000_000 // est
    assert est >= v  # Chao1 is a lower bound ABOVE the observed count
