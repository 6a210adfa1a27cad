"""Third-implementation cross-checks for the round-5 batch-25 ML
operators (`plans/ml.py`): NDCG, Cohen's kappa, the
decision stump and the Naive Bayes confusion matrix recomputed in
pure Python over the raw parquet — exact ``==`` comparisons on the
same integer micro-units, so a formula error shared by the Spark
plan and the DuckDB oracle cannot hide."""

from __future__ import annotations

import math
from collections import Counter, defaultdict


def test_ndcg_matches_python(run, tables):
    gains = tables["lineitem"].groupby("l_orderkey").size().to_dict()
    per_cust = defaultdict(list)
    for r in tables["orders"].itertuples():
        per_cust[r.o_custkey].append(
            (r.o_orderkey, -r.o_totalprice, gains.get(r.o_orderkey, 0))
        )
    ndcgs = []
    for cust, rows in per_cust.items():
        by_price = sorted(rows, key=lambda x: (x[1], x[0]))
        by_gain = sorted(rows, key=lambda x: (-x[2], x[0]))
        dcg = sum(
            math.floor(float(g) * 1_000_000 / math.log2(i + 2))
            for i, (_, _, g) in enumerate(by_price[:5])
        )
        idcg = sum(
            math.floor(float(g) * 1_000_000 / math.log2(i + 2))
            for i, (_, _, g) in enumerate(by_gain[:5])
        )
        if idcg > 0:
            ndcgs.append(dcg * 1_000_000 // idcg)
    got = run("ml_ndcg_at_k").iloc[0]
    assert int(got.n_customers) == len(ndcgs)
    assert int(got.mean_ndcg_micro) == sum(ndcgs) // len(ndcgs)
    assert int(got.min_ndcg_micro) == min(ndcgs)
    assert int(got.n_perfect) == sum(1 for v in ndcgs if v == 1_000_000)


def test_cohens_kappa_matches_python(run, tables):
    docs = tables["documents"]
    a = docs.n_chars >= 300
    b = docs.text.map(lambda t: len([w for w in str(t).split(" ") if w]) >= 45)
    n = len(docs)
    na, nb = int(a.sum()), int(b.sum())
    n11 = int((a & b).sum())
    n00 = int((~a & ~b).sum())
    po = (n11 + n00) / n
    pe = (na * nb + (n - na) * (n - nb)) / (n * n)
    got = run("ml_cohens_kappa").iloc[0]
    assert int(got.n_docs) == n
    assert int(got.n_both_pos) == n11
    assert int(got.n_both_neg) == n00
    assert int(got.po_micro) == math.floor(po * 1_000_000)
    assert int(got.pe_micro) == math.floor(pe * 1_000_000)
    assert int(got.kappa_micro) == math.floor((po - pe) / (1 - pe) * 1_000_000)


def test_decision_stump_matches_python(run, tables):
    orders = tables["orders"]
    v = (orders.o_totalprice * 100).map(math.floor).astype(int)
    y = (orders.o_orderstatus == "F").astype(int)
    lo, hi = int(v.min()), int(v.max())
    bins = ((v - lo) * 64 // max(hi - lo, 1)).clip(upper=63)
    hist_n = Counter(bins)
    hist_pos = defaultdict(int)
    for b, yy in zip(bins, y):
        hist_pos[b] += int(yy)
    nt, post = len(v), int(y.sum())

    def gini(p, nn):
        f1, f0 = p / nn, (nn - p) / nn
        return 1 - f1 * f1 - f0 * f0

    best = None
    nl = posl = 0
    for b in sorted(hist_n):
        nl += hist_n[b]
        posl += hist_pos[b]
        nr, posr = nt - nl, post - posl
        if nl == 0 or nr == 0:
            continue
        g = math.floor(
            (nl / nt * gini(posl, nl) + nr / nt * gini(posr, nr)) * 1_000_000
        )
        if best is None or (g, b) < best[:2]:
            best = (g, b, nl, nr)
    got = run("ml_decision_stump").iloc[0]
    assert int(got.gini_micro) == best[0]
    assert int(got.cut_bin) == best[1]
    assert int(got.n_left) == best[2]
    assert int(got.n_right) == best[3]
    assert int(got.threshold_cents) == lo + (best[1] + 1) * (hi - lo) // 64
    assert int(got.parent_gini_micro) == math.floor(
        gini(post, nt) * 1_000_000
    )


def test_naive_bayes_confusion_matches_python(run, tables):
    docs = tables["documents"]
    tok = {
        int(r.doc_id): Counter(w for w in str(r.text).split(" ") if w)
        for r in docs.itertuples()
    }
    lang = {int(r.doc_id): str(r.lang) for r in docs.itertuples()}
    train = [d for d in tok if d % 5 != 0]
    test = [d for d in tok if d % 5 == 0]
    ctl = defaultdict(Counter)
    nd = Counter()
    for d in train:
        ctl[lang[d]].update(tok[d])
        nd[lang[d]] += 1
    vocab = set()
    for c in ctl.values():
        vocab.update(c)
    vsz = len(vocab)
    ndt = sum(nd.values())
    langs = sorted(ctl)
    confusion = Counter()
    for d in test:
        scores = {}
        for L in langs:
            tot = sum(ctl[L].values())
            s = math.floor(math.log(nd[L] / ndt) * 1_000_000)
            for t, m in tok[d].items():
                c = ctl[L].get(t)
                if c:
                    lp = math.floor(
                        math.log((float(c) + 1) / (float(tot) + vsz))
                        * 1_000_000
                    )
                else:
                    lp = math.floor(
                        math.log(1.0 / (float(tot) + vsz)) * 1_000_000
                    )
                s += m * lp
            scores[L] = s
        # argmax with lang-ascending tie-break == ROW_NUMBER ORDER BY
        # score DESC, cand ASC -> smallest cand wins ties
        pred = min(langs, key=lambda L: (-scores[L], L))
        confusion[(lang[d], pred)] += 1
    got = run("ml_naive_bayes_lang")
    want = sorted((t, p, n) for (t, p), n in confusion.items())
    assert [
        (str(r.true_lang), str(r.pred_lang), int(r.n_docs))
        for r in got.itertuples()
    ] == want
