"""Third-implementation cross-checks for the round-5 batch-26
statistics (`plans/agg.py`): ANOVA F, Jarque-Bera,
Durbin-Watson and Theil's U recomputed in pure Python over the raw
parquet with the SAME fixed-shape float expressions and integer
micro-floors — exact ``==`` comparisons, so a shared formula error
between plan and oracle cannot hide."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd


def test_anova_f_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.agg import _ANOVA_SEGS

    cust = tables["customer"]
    v = (cust.c_acctbal * 100).map(math.floor).astype(int)
    seg = cust.c_mktsegment
    n = {s: int((seg == s).sum()) for s in _ANOVA_SEGS}
    s = {g: int(v[seg == g].sum()) for g in _ANOVA_SEGS}
    ss = {g: int((v[seg == g] ** 2).sum()) for g in _ANOVA_SEGS}
    k = len(_ANOVA_SEGS)
    st, nt, sst = (
        sum(s.values()),
        sum(n.values()),
        sum(ss.values()),
    )
    rawb = 0.0
    for g in _ANOVA_SEGS:  # same left-to-right addition order as SQL
        rawb = rawb + float(s[g]) * s[g] / n[g]
    ssb = rawb - float(st) * st / nt
    ssw = float(sst) - rawb
    got = run("agg_anova_f").iloc[0]
    assert int(got.n_rows) == len(cust)
    assert int(got.n_other) == len(cust) - nt
    assert int(got.df_between) == k - 1
    assert int(got.df_within) == nt - k
    assert int(got.ssb_share_micro) == math.floor(ssb / (ssb + ssw) * 1e6)
    assert int(got.f_milli) == math.floor(
        (ssb / (k - 1)) / (ssw / (nt - k)) * 1000
    )


def test_jarque_bera_matches_python(run, tables):
    v = tables["lineitem"].l_quantity.astype(int)
    n = len(v)
    s1, s2 = int(v.sum()), int((v**2).sum())
    s3, s4 = int((v**3).sum()), int((v**4).sum())
    m = float(s1) / n
    r2, r3, r4 = float(s2) / n, float(s3) / n, float(s4) / n
    m2 = r2 - m * m
    m3 = r3 - 3 * m * r2 + 2 * m * m * m
    m4 = r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m
    skew = m3 / (m2 * math.sqrt(m2))
    kurt = m4 / (m2 * m2)
    got = run("agg_jarque_bera").iloc[0]
    assert int(got.n_rows) == n
    assert int(got.mean_milli) == math.floor(m * 1000)
    assert int(got.skew_micro) == math.floor(skew * 1e6)
    assert int(got.kurt_micro) == math.floor(kurt * 1e6)
    assert int(got.jb_milli) == math.floor(
        float(n) / 6 * (skew * skew + (kurt - 3) * (kurt - 3) / 4) * 1000
    )


def test_durbin_watson_matches_python(run, tables):
    li = tables["lineitem"]
    days = (
        li.l_shipdate.dt.normalize() - pd.Timestamp("1970-01-01")
    ).dt.days.astype(int)
    cents = (li.l_extendedprice * 100).map(math.floor).astype(int)
    daily = defaultdict(int)
    for d, c in zip(days, cents):
        daily[int(d)] += int(c)
    ds = sorted(daily)
    n = len(ds)
    sd = sum(ds)
    sdd = sum(d * d for d in ds)
    sv = sum(daily[d] for d in ds)
    sdv = sum(d * daily[d] for d in ds)
    b = (float(n) * float(sdv) - float(sd) * float(sv)) / (
        float(n) * float(sdd) - float(sd) * float(sd)
    )
    a = (float(sv) - b * float(sd)) / float(n)
    e = [math.floor(float(daily[d]) - b * d - a) for d in ds]
    num = sum((e[i] - e[i - 1]) ** 2 for i in range(1, n))
    den = sum(x * x for x in e)
    got = run("agg_durbin_watson").iloc[0]
    assert int(got.n_days) == n
    assert int(got.dw_micro) == math.floor(float(num) / float(den) * 1e6)


def test_theils_u_matches_python(run, tables):
    orders = tables["orders"]
    jx = Counter(zip(orders.o_orderpriority, orders.o_orderstatus))
    n = sum(jx.values())

    def ent_micro(counts):
        return sum(
            math.floor(-(c / n) * math.log(c / n) * 1e6) for c in counts
        )

    mx = Counter()
    my = Counter()
    for (x, y), c in jx.items():
        mx[x] += c
        my[y] += c
    hx, hy, hj = (
        ent_micro(mx.values()),
        ent_micro(my.values()),
        ent_micro(jx.values()),
    )
    got = run("agg_theils_u").iloc[0]
    assert int(got.n_rows) == n
    assert int(got.h_priority_micro) == hx
    assert int(got.h_status_micro) == hy
    assert int(got.h_joint_micro) == hj
    assert int(got.u_status_given_priority_micro) == (
        (hy - (hj - hx)) * 1_000_000 // hy
    )
    assert int(got.u_priority_given_status_micro) == (
        (hx - (hj - hy)) * 1_000_000 // hx
    )
