"""Third-implementation cross-checks for the round-5 batch-38 operators
(`plans/agg.py`, `plans/ml.py`, `plans/text.py`, `plans/ts.py`,
`plans/validate.py`): tokenizer fertility, Hill tail index, key
profiling, permutation importance, the effect-size panel and the
exponential-fit KS distance recomputed in pure Python — exact ``==``
on every integer column."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pandas as pd


def test_tokenizer_fertility_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.text import _TOKEN_RE

    tok = re.compile(_TOKEN_RE)
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, words, bpe, chars
    for lang, text in zip(tables["documents"]["lang"], tables["documents"]["text"]):
        t = str(text)
        a = agg[lang]
        a[0] += 1
        a[1] += len([w for w in t.split(" ") if w])
        a[2] += len(tok.findall(t))
        a[3] += len(t)
    got = run("text_tokenizer_fertility")
    assert len(got) == len(agg)
    for row in got.itertuples(index=False):
        d, w, b, c = agg[row.lang]
        assert (row.n_docs, row.n_words, row.n_tokens, row.n_chars) == (d, w, b, c)
        assert row.fertility_milli == 1000 * b // w
        assert row.chars_per_token_milli == 1000 * c // b


def test_hill_tail_index_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.agg import _HILL_K

    docs = tables["documents"]
    rows = sorted(
        [(int(n), int(d)) for n, d in zip(docs["n_chars"], docs["doc_id"]) if n > 0],
        key=lambda r: (-r[0], r[1]),
    )[:_HILL_K]
    xs = [n for n, _ in rows]
    x_k, k = min(xs), len(xs)
    sum_micro = sum(math.floor(math.log(x / x_k) * 1000000) for x in xs)
    got = run("agg_hill_tail_index")
    row = got.iloc[0]
    assert (row.k, row.threshold_chars) == (k, x_k)
    assert row.sum_ln_ratio_micro == sum_micro
    assert row.hill_inv_alpha_micro == sum_micro // (k - 1)
    assert row.hill_alpha_milli == (
        (k - 1) * 1000000000 // sum_micro if sum_micro > 0 else 0
    )


def test_key_candidates_matches_python(run, tables):
    orders = tables["orders"]
    cols = {
        "o_orderkey": orders["o_orderkey"].map(lambda v: str(int(v))),
        "o_custkey": orders["o_custkey"].map(lambda v: str(int(v))),
        "o_orderdate": orders["o_orderdate"].map(lambda v: str(pd.Timestamp(v).date())),
        "o_orderpriority": orders["o_orderpriority"].astype(str),
    }
    got = run("validate_key_candidates")
    assert len(got) == 4
    for row in got.itertuples(index=False):
        vals = cols[row.col_name]
        assert row.n_rows == len(orders)
        assert row.n_nonnull == vals.notna().sum()
        assert row.n_distinct == vals.nunique()
        assert row.is_unique_key == (1 if vals.nunique() == len(orders) else 0)
    # the primary key is discovered, the others rejected
    verdicts = dict(zip(got["col_name"], got["is_unique_key"]))
    assert verdicts["o_orderkey"] == 1
    assert verdicts["o_custkey"] == 0


def test_permutation_importance_matches_python(run, tables):
    orders = tables["orders"]
    rows = [
        (int(ok), int(round(tp * 100)), 1 if st == "F" else 0)
        for ok, tp, st in zip(
            orders["o_orderkey"], orders["o_totalprice"], orders["o_orderstatus"]
        )
    ]
    n = len(rows)
    by_x = sorted(rows, key=lambda r: (r[1], r[0]))
    t = by_x[(n + 1) // 2 - 1][1]
    by_h = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    ok_base = sum(1 for _, x, y in rows if (x >= t) == (y == 1))
    ok_perm = sum(
        1
        for i, (_, _, y) in enumerate(by_h)
        if (by_h[n - 1 - i][1] >= t) == (y == 1)
    )
    got = run("ml_permutation_importance").iloc[0]
    assert got.n == n
    assert got.threshold_cents == t
    assert got.acc_base_ppm == 1000000 * ok_base // n
    assert got.acc_perm_ppm == 1000000 * ok_perm // n
    assert got.importance_ppm == got.acc_base_ppm - got.acc_perm_ppm


def test_effect_size_panel_matches_python(run, tables):
    orders = tables["orders"]
    xs = [int(round(v * 100)) for v in orders["o_totalprice"]]
    gs = [1 if p == "1-URGENT" else 0 for p in orders["o_orderpriority"]]
    sts = list(orders["o_orderstatus"])
    pris = list(orders["o_orderpriority"])
    n1 = sum(gs)
    n2 = len(gs) - n1
    s1 = sum(x for x, g in zip(xs, gs) if g)
    s2 = sum(x for x, g in zip(xs, gs) if not g)
    q1 = sum(x * x for x, g in zip(xs, gs) if g)
    q2 = sum(x * x for x, g in zip(xs, gs) if not g)
    d_milli = math.floor(
        (s1 / n1 - s2 / n2)
        / math.sqrt(((q1 - s1 * s1 / n1) + (q2 - s2 * s2 / n2)) / (n1 + n2 - 2))
        * 1000
    )
    HV = 15_000_000
    a = sum(1 for x, g in zip(xs, gs) if g and x > HV)
    b = sum(1 for x, g in zip(xs, gs) if g and x <= HV)
    c = sum(1 for x, g in zip(xs, gs) if not g and x > HV)
    d = sum(1 for x, g in zip(xs, gs) if not g and x <= HV)
    cells = Counter(zip(pris, sts))
    row_tot = Counter()
    col_tot = Counter()
    for (p, s), cnt in cells.items():
        row_tot[p] += cnt
        col_tot[s] += cnt
    n = len(xs)
    chi2_micro = sum(
        math.floor((cnt - row_tot[p] * col_tot[s] / n) ** 2 / (row_tot[p] * col_tot[s] / n) * 1e6)
        for (p, s), cnt in cells.items()
    )
    r, ccnt = len(row_tot), len(col_tot)
    v_milli = math.floor(
        math.sqrt(chi2_micro / 1e6 / (n * (min(r, ccnt) - 1))) * 1000
    )
    got = run("agg_effect_size_panel").iloc[0]
    assert got.n_orders == n
    assert got.cohens_d_milli == d_milli
    assert got.n_urgent_high == a
    assert got.odds_ratio_milli == (1000 * a * d // (b * c) if b * c > 0 else 0)
    if a > 0 and b > 0 and c > 0 and d > 0:
        assert got.ln_or_micro == math.floor(math.log(a * d / (b * c)) * 1000000)
    assert got.chi2_micro == chi2_micro
    assert got.cramers_v_milli == v_milli


def test_exponential_fit_ks_matches_python(run, tables):
    ev = tables["events"].copy()
    ev["t_us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    dts = []
    for _, grp in ev.groupby("user_id"):
        ts = sorted(zip(grp["t_us"], grp["event_id"]))
        dts.extend(ts[i][0] - ts[i - 1][0] for i in range(1, len(ts)))
    n, tot = len(dts), sum(dts)
    BIN = 3_600_000_000
    bins = Counter(dt // BIN for dt in dts)
    cum = 0
    ks = 0
    for b in sorted(bins):
        cum += bins[b]
        term = math.floor(
            abs(cum / n - (1 - math.exp(-(b + 1) * BIN * n / tot))) * 1000000
        )
        ks = max(ks, term)
    got = run("ts_exponential_fit_ks").iloc[0]
    assert got.n_intervals == n
    assert got.mean_dt_us == tot // n
    assert got.lambda_per_day_milli == math.floor(86400000000.0 * n / tot * 1000)
    assert got.ks_d_micro == ks
