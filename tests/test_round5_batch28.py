"""Third-implementation cross-checks for the round-5 batch-28 text
operators (`plans/curate.py`, `plans/text.py`). The MATTR check is
the important one: it recomputes the metric by BRUTE FORCE
(materializing every sliding window as a Python set) and must equal
the plan's closed-form first-occurrence-interval answer exactly —
proving the O(n) rewrite against the O(n*w) definition, not against
itself."""

from __future__ import annotations

import hashlib
from collections import Counter


def _toks(text: str) -> list[str]:
    return [w for w in str(text).split(" ") if w]


def test_mattr_matches_bruteforce_windows(run, tables):
    from boat_etl_pyspark_spark.plans.text import _MATTR_W as W

    want = {}
    for r in tables["documents"].itertuples():
        t = _toks(r.text)
        n = len(t)
        if n < W:
            continue
        total = sum(
            len(set(t[i : i + W])) for i in range(n - W + 1)
        )
        want[int(r.doc_id)] = (
            n,
            n - W + 1,
            total * 1_000_000 // (W * (n - W + 1)),
        )
    got = run("text_mattr")
    assert {
        int(r.doc_id): (int(r.n_tokens), int(r.n_windows), int(r.mattr_micro))
        for r in got.itertuples()
    } == want


def test_dup_ngram_fraction_matches_python(run, tables):
    want = {}
    for r in tables["documents"].itertuples():
        t = _toks(r.text)
        if len(t) < 3:
            continue
        grams = Counter(
            " ".join(t[i : i + 3]) for i in range(len(t) - 2)
        )
        tot = sum(grams.values())
        dis = len(grams)
        chars_all = sum(c * len(g) for g, c in grams.items())
        chars_dup = sum(c * len(g) for g, c in grams.items() if c > 1)
        want[int(r.doc_id)] = (
            tot,
            dis,
            (tot - dis) * 1_000_000 // tot,
            chars_dup * 1_000_000 // chars_all,
        )
    got = run("text_dup_ngram_fraction")
    assert {
        int(r.doc_id): (
            int(r.n_grams),
            int(r.n_distinct),
            int(r.dup_gram_ppm),
            int(r.dup_char_ppm),
        )
        for r in got.itertuples()
    } == want


def test_rejection_sampling_matches_python(run, tables):
    docs = tables["documents"]
    mc = int(docs.n_chars.max())
    per_source = {}
    for r in docs.itertuples():
        p = int(r.n_chars) * 1_000_000 // mc
        u = (
            int(
                hashlib.md5(str(int(r.doc_id)).encode()).hexdigest()[:12],
                16,
            )
            % 1_000_000
        )
        n, acc, psum = per_source.get(str(r.source), (0, 0, 0))
        per_source[str(r.source)] = (n + 1, acc + (u < p), psum + p)
    got = run("curate_rejection_sampling")
    assert {
        str(r.source): (int(r.n_docs), int(r.n_accepted), int(r.mean_p_micro))
        for r in got.itertuples()
    } == {
        s: (n, acc, psum // n) for s, (n, acc, psum) in per_source.items()
    }
