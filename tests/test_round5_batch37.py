"""Third-implementation cross-checks for the round-5 batch-37
operators (`plans/relational50.py`): PMI collocations, modularity,
Fisher exact, Chebyshev-BH, pinball loss and Hodges-Lehmann
recomputed in pure Python — exact ``==`` on every integer column,
plus the structural guarantees (BH step-up monotone; HL lies inside
the sample range; Fisher census includes the observed table)."""

from __future__ import annotations

import hashlib
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


def test_pmi_collocations_match_python(run, tables):
    from boat_etl_pyspark_spark.plans.text import (
        _PMI_MIN_COUNT,
        _PMI_TOP,
    )

    uni: Counter = Counter()
    big: Counter = Counter()
    for text in tables["documents"]["text"]:
        toks = [w for w in str(text).split(" ") if w]
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    n_uni = sum(uni.values())
    n_big = sum(big.values())
    rows = []
    for (lt, rt), c in big.items():
        if c < _PMI_MIN_COUNT:
            continue
        pmi = math.floor(
            math.log((float(c) * n_uni * n_uni) / (float(n_big) * uni[lt] * uni[rt]))
            * 1000000
        )
        rows.append((f"{lt} {rt}", c, uni[lt], uni[rt], pmi))
    rows.sort(key=lambda r: (-r[4], r[0]))
    expect = rows[:_PMI_TOP]

    got = run("text_pmi_collocations")
    assert len(got) == len(expect)
    for row, (gram, cp, cl, cr, pmi) in zip(got.itertuples(index=False), expect):
        assert (row.gram, row.c_pair, row.c_left, row.c_right) == (gram, cp, cl, cr)
        assert row.pmi_micro_nats == pmi


def _trade_edges(tables):
    li = tables["lineitem"][["l_orderkey", "l_suppkey"]]
    orders = tables["orders"][["o_orderkey", "o_custkey"]]
    cust = tables["customer"][["c_custkey", "c_nationkey"]]
    supp = tables["supplier"][["s_suppkey", "s_nationkey"]]
    df = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    df = df.merge(supp, left_on="l_suppkey", right_on="s_suppkey")
    df = df.merge(cust, left_on="o_custkey", right_on="c_custkey")
    return Counter(zip(df["s_nationkey"], df["c_nationkey"]))


def test_modularity_matches_python(run, tables):
    edges = _trade_edges(tables)
    region_of = dict(
        zip(tables["nation"]["n_nationkey"], tables["nation"]["n_regionkey"])
    )
    und: Counter = Counter()
    for (s, d), w in edges.items():
        und[(s, d)] += w
        und[(d, s)] += w
    t_total = sum(und.values())
    intra: Counter = Counter()
    deg: Counter = Counter()
    for (a, b), w in und.items():
        deg[region_of[a]] += w
        if region_of[a] == region_of[b]:
            intra[region_of[a]] += w
    contrib = {c: t_total * intra[c] - deg[c] * deg[c] for c in deg}
    q_ppm = math.floor(
        float(sum(contrib.values())) / (float(t_total) * t_total) * 1000000
    )

    got = run("graph_community_modularity")
    rname = dict(zip(tables["region"]["r_regionkey"], tables["region"]["r_name"]))
    for row in got.itertuples(index=False):
        c = next(k for k, v in rname.items() if v == row.region)
        assert row.intra_w == intra[c]
        assert row.deg_w == deg[c]
        assert row.contrib_num == contrib[c]
        assert row.t_total == t_total
        assert row.modularity_ppm == q_ppm


def test_fisher_exact_matches_python(run, tables):
    part = tables["part"]
    sel = part[part["p_size"] <= 3]
    n = len(sel)
    r1 = int(sel["p_brand"].str.startswith("Brand#1").sum())
    c1 = int(sel["p_type"].str.startswith("SMALL").sum())
    k_obs = int(
        (sel["p_brand"].str.startswith("Brand#1") & sel["p_type"].str.startswith("SMALL")).sum()
    )
    # sequential cumsum of ln — mirrors the window-cumsum order exactly
    lf = [0.0, 0.0]
    for i in range(2, n + 1):
        lf.append(lf[-1] + math.log(float(i)))
    lnconst = lf[r1] + lf[n - r1] + lf[c1] + lf[n - c1] - lf[n]
    kmin, kmax = max(0, r1 + c1 - n), min(r1, c1)
    lnpmf = {
        k: lnconst - lf[k] - lf[r1 - k] - lf[c1 - k] - lf[n - r1 - c1 + k]
        for k in range(kmin, kmax + 1)
    }
    obs = lnpmf[k_obs]
    # mirror the plan's deterministic tie guard (_FISHER_TIE_EPS)
    n_extreme = sum(1 for v in lnpmf.values() if v <= obs + 1e-9)
    p_permille = math.floor(
        sum(math.exp(v) for k, v in sorted(lnpmf.items()) if v <= obs + 1e-9) * 1000
    )

    got = run("agg_fisher_exact")
    assert len(got) == 1
    row = got.iloc[0]
    assert (row.n, row.r1, row.c1, row.k_obs) == (n, r1, c1, k_obs)
    assert (row.kmin, row.kmax) == (kmin, kmax)
    assert row.mode_k == (r1 + 1) * (c1 + 1) // (n + 2)
    assert row.expected_k_micro == 1000000 * r1 * c1 // n
    assert row.n_more_extreme == n_extreme
    assert row.lnpmf_obs_centi == math.floor(obs * 100)
    assert row.p_two_sided_permille == p_permille
    assert kmin <= row.k_obs <= kmax  # observed table is in the census


def test_bh_fdr_matches_python(run, tables):
    orders = tables["orders"].merge(
        tables["customer"], left_on="o_custkey", right_on="c_custkey"
    )
    cents = orders["o_totalprice"].map(lambda v: int(round(v * 100)))
    by_n = defaultdict(list)
    for nk, x in zip(orders["c_nationkey"], cents):
        by_n[int(nk)].append(x)
    nn = sum(len(v) for v in by_n.values())
    g = sum(sum(v) for v in by_n.values())
    ps = []
    for nk, xs in by_n.items():
        n = len(xs)
        sx, sxx = sum(xs), sum(x * x for x in xs)
        d = nn * sx - n * g
        if n < 2 or d == 0:
            p = 1000000
        else:
            p = min(
                1000000.0,
                math.floor(
                    1000000.0
                    * float(n * sxx - sx * sx)
                    * float(nn)
                    * float(nn)
                    / (float(n - 1) * float(d) * float(d))
                ),
            )
        ps.append((int(p), nk))
    ps.sort()
    m = len(ps)
    i_star = max(
        (i for i, (p, _) in enumerate(ps, 1) if p * m <= 100000 * i), default=0
    )
    expect = {
        nk: (p, i, 1 if i <= i_star else 0) for i, (p, nk) in enumerate(ps, 1)
    }

    got = run("agg_bh_fdr")
    nkey = dict(zip(tables["nation"]["n_name"], tables["nation"]["n_nationkey"]))
    assert len(got) == m
    for row in got.itertuples(index=False):
        p, rank, disc = expect[int(nkey[row.nation])]
        assert row.p_chebyshev_micro == p
        assert row.bh_rank == rank
        assert row.discovered == disc
    # BH step-up is monotone: discoveries are exactly ranks 1..i_star
    flags = got.sort_values("bh_rank")["discovered"].tolist()
    assert flags == sorted(flags, reverse=True)


def test_pinball_matches_python(run, tables):
    cust = tables["customer"]
    by_seg = defaultdict(list)
    for seg, bal in zip(cust["c_mktsegment"], cust["c_acctbal"]):
        by_seg[seg].append(int(round(bal * 100)))
    got = run("ml_pinball_quantile_eval")
    assert len(got) == 3 * len(by_seg)
    for row in got.itertuples(index=False):
        xs = sorted(by_seg[row.segment])
        n = len(xs)
        tau = int(row.tau_deci)
        q = xs[(tau * n + 9) // 10 - 1]
        loss = sum(
            tau * (x - q) if x >= q else (10 - tau) * (q - x) for x in xs
        )
        assert row.q_cents == q
        assert row.n == n
        assert row.pinball_loss_deci_cents == loss


def test_hodges_lehmann_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.agg import _HL_CAP

    cust = tables["customer"]
    by_seg = defaultdict(list)
    for seg, ck, bal in zip(
        cust["c_mktsegment"], cust["c_custkey"], cust["c_acctbal"]
    ):
        by_seg[seg].append((hashlib.md5(str(int(ck)).encode()).hexdigest(), int(round(bal * 100))))
    got = run("agg_hodges_lehmann")
    assert len(got) == len(by_seg)
    for row in got.itertuples(index=False):
        samp = [x for _, x in sorted(by_seg[row.segment])[:_HL_CAP]]
        walsh = sorted(
            samp[i] + samp[j]
            for i in range(len(samp))
            for j in range(i, len(samp))
        )
        cnt = len(walsh)
        hl = walsh[(cnt + 1) // 2 - 1]
        med2 = 2 * sorted(samp)[(len(samp) + 1) // 2 - 1]
        assert row.n_pairs == cnt
        assert row.hl_double_cents == hl
        assert row.med_double_cents == med2
        # pseudomedian lies inside the doubled sample range
        assert 2 * min(samp) <= hl <= 2 * max(samp)
