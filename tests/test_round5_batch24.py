"""Third-implementation cross-checks for the round-5 batch-24 operators
(`plans/multimodal.py::multimodal_phash_pairs`, `plans/events.py`,
`plans/validate.py`): perceptual-hash bits recomputed from raw UTF-8
bytes in pure Python, FK orphans via set membership, DiD via a direct
2x2 cell scan — exact ``==`` comparisons throughout.
"""

from __future__ import annotations

import math
from itertools import combinations


def _phash(text: str) -> list[int]:
    bs = text.encode("utf-8")
    n = len(bs)
    total = sum(bs)
    bits = []
    for j in range(64):
        lo, hi = (j * n) // 64, ((j + 1) * n) // 64
        bits.append(1 if sum(bs[lo:hi]) * n > total * (hi - lo) else 0)
    return [
        sum(b << (15 - i) for i, b in enumerate(bits[k * 16 : (k + 1) * 16]))
        for k in range(4)
    ]


def test_phash_pairs_match_per_doc_python_hash(run, tables):
    from boat_etl_pyspark_spark.plans.multimodal import _PH_MAXHAM

    got = run("multimodal_phash_pairs")
    keys = {
        int(r.doc_id): _phash(str(r.text))
        for r in tables["documents"].itertuples()
    }
    want = []
    for a, b in combinations(sorted(keys), 2):
        ka, kb = keys[a], keys[b]
        if not any(x == y for x, y in zip(ka, kb)):
            continue  # no shared LSH band -> never a candidate
        ham = sum(bin(x ^ y).count("1") for x, y in zip(ka, kb))
        if ham <= _PH_MAXHAM:
            want.append((a, b, ham))
    assert [
        (int(r.doc_a), int(r.doc_b), int(r.hamming_bits))
        for r in got.itertuples()
    ] == sorted(want)


def test_referential_integrity_matches_set_membership(run, tables):
    from boat_etl_pyspark_spark.plans.validate import _RI_FKS

    got = run("validate_referential_integrity")
    want = []
    for child, ck, parent, pk in _RI_FKS:
        ckeys = tables[child][ck]
        pset = set(tables[parent][pk])
        n_child = len(ckeys)
        n_orphans = int(sum(1 for k in ckeys if k not in pset))
        want.append(
            (
                f"{child}.{ck}->{parent}.{pk}",
                n_child,
                n_orphans,
                n_orphans * 1_000_000 // n_child,
            )
        )
    assert [
        (r.fk, int(r.n_child), int(r.n_orphans), int(r.orphan_ppm))
        for r in got.itertuples()
    ] == sorted(want)
    # the fixtures are consistent: the gate must prove all-zero
    assert (got.n_orphans == 0).all()


def test_diff_in_diff_matches_cell_scan(run, tables):
    got = run("events_diff_in_diff").iloc[0]
    e = tables["events"].copy()
    us = e["ts"].astype("datetime64[us]").astype("int64")
    mid = int(us.min()) + (int(us.max()) - int(us.min())) // 2
    v = [math.floor(x * 1000) for x in e["value"]]
    treat = (e["user_id"] % 2).tolist()
    post = (us >= mid).tolist()
    cell = {}
    for t in (0, 1):
        for p in (0, 1):
            vals = [
                vi
                for vi, ti, pi in zip(v, treat, post)
                if ti == t and pi == p
            ]
            cell[(t, p)] = (len(vals), sum(vals))
    assert (
        int(got.n_treat_post),
        int(got.n_treat_pre),
        int(got.n_ctrl_post),
        int(got.n_ctrl_pre),
    ) == (cell[(1, 1)][0], cell[(1, 0)][0], cell[(0, 1)][0], cell[(0, 0)][0])

    def mean(t, p):
        n, s = cell[(t, p)]
        return s / n

    assert int(got.mean_treat_post_milli) == math.floor(mean(1, 1))
    assert int(got.mean_treat_pre_milli) == math.floor(mean(1, 0))
    assert int(got.mean_ctrl_post_milli) == math.floor(mean(0, 1))
    assert int(got.mean_ctrl_pre_milli) == math.floor(mean(0, 0))
    assert int(got.did_micro) == math.floor(
        ((mean(1, 1) - mean(1, 0)) - (mean(0, 1) - mean(0, 0))) * 1000
    )
