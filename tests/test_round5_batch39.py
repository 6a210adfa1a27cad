"""Third-implementation cross-checks for the round-5 batch-39
operators (`plans/relational52.py`): Qini, Brier decomposition,
source overlap, Kendall tau-b, table checksum and LLR keyness
recomputed in pure Python — exact ``==`` on every integer column,
plus structural guarantees (checksum invariant under row order;
overlap matrix symmetric in its construction; Qini cumulative
counts monotone)."""

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


def test_uplift_qini_matches_python(run, tables):
    ev = tables["events"]
    users = {}
    for uid, et in zip(ev["user_id"], ev["event_type"]):
        uid = int(uid)
        users.setdefault(uid, 0)
        if et == "purchase":
            users[uid] = 1
    ordered = sorted(
        users, key=lambda u: (hashlib.md5(str(u).encode()).hexdigest(), u)
    )
    n = len(ordered)
    # NTILE(10): first (n % 10) tiles get ceil(n/10) rows
    base, extra = divmod(n, 10)
    per_d = defaultdict(lambda: [0, 0, 0, 0])
    idx = 0
    for d in range(1, 11):
        size = base + (1 if d <= extra else 0)
        for u in ordered[idx : idx + size]:
            t = u % 2
            y = users[u]
            rec = per_d[d]
            rec[0] += t
            rec[1] += 1 - t
            rec[2] += t * y
            rec[3] += (1 - t) * y
        idx += size
    got = run("events_uplift_qini")
    cn_t = cn_c = cr_t = cr_c = 0
    assert len(got) == 10
    prev = None
    for row in got.sort_values("decile").itertuples(index=False):
        nt, nc, rt, rc = per_d[int(row.decile)]
        cn_t += nt
        cn_c += nc
        cr_t += rt
        cr_c += rc
        assert (row.cum_n_treat, row.cum_n_ctrl) == (cn_t, cn_c)
        assert (row.cum_resp_treat, row.cum_resp_ctrl) == (cr_t, cr_c)
        q = 1000 * (cr_t * cn_c - cr_c * cn_t) // cn_c if cn_c else 0
        assert row.qini_milli == q
        if prev is not None:
            assert row.cum_n_treat >= prev
        prev = row.cum_n_treat


def test_brier_decomposition_matches_python(run, tables):
    ev = tables["events"]
    rows = [
        (min(int(round(v * 100)) * 2500, 1000000), 1 if t == "purchase" else 0)
        for v, t in zip(ev["value"], ev["event_type"])
    ]
    n = len(rows)
    sy = sum(y for _, y in rows)
    sq = sum((p - y * 1000000) ** 2 for p, y in rows)
    bins = defaultdict(lambda: [0, 0, 0])
    for p, y in rows:
        b = min(p // 100000, 9)
        rec = bins[b]
        rec[0] += 1
        rec[1] += p
        rec[2] += y
    rel = sum(
        math.floor(nk * (sp / nk - syk * 1000000 / nk) ** 2 / 1000000)
        for nk, sp, syk in bins.values()
    )
    res = sum(
        math.floor(nk * (syk * 1000000 / nk - sy * 1000000 / n) ** 2 / 1000000)
        for nk, sp, syk in bins.values()
    )
    unc = sy * (1000000 - sy * 1000000 // n) // n
    got = run("ml_brier_decomposition").iloc[0]
    assert got.n_events == n
    assert got.brier_ppm == sq // (n * 1000000)
    assert got.reliability_ppm == rel // n
    assert got.resolution_ppm == res // n
    assert got.uncertainty_ppm == unc
    assert got.decomposition_gap_ppm == (
        sq // (n * 1000000) - (rel // n - res // n + unc)
    )


def test_source_overlap_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.curate import _OVL_SHINGLE

    by_src = defaultdict(set)
    for src, text in zip(tables["documents"]["source"], tables["documents"]["text"]):
        toks = [w for w in str(text).split(" ") if w]
        for i in range(len(toks) - _OVL_SHINGLE + 1):
            by_src[src].add(" ".join(toks[i : i + _OVL_SHINGLE]))
    got = run("curate_source_overlap_matrix")
    srcs = sorted(by_src)
    assert len(got) == len(srcs) * (len(srcs) - 1) // 2
    for row in got.itertuples(index=False):
        ga, gb = by_src[row.source_a], by_src[row.source_b]
        inter = len(ga & gb)
        assert row.grams_a == len(ga)
        assert row.grams_b == len(gb)
        assert row.shared_grams == inter
        union = len(ga) + len(gb) - inter
        assert row.jaccard_milli == (1000 * inter // union if union else 0)


def test_kendall_tau_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.agg import _TAU_CAP

    orders = tables["orders"]
    per_c = defaultdict(lambda: [0, 0])
    for ck, tp in zip(orders["o_custkey"], orders["o_totalprice"]):
        rec = per_c[int(ck)]
        rec[0] += 1
        rec[1] += int(round(tp * 100))
    ordered = sorted(
        per_c, key=lambda c: (hashlib.md5(str(c).encode()).hexdigest(), c)
    )[:_TAU_CAP]
    pts = [tuple(per_c[c]) for c in ordered]
    C = D = Tx = Ty = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            dx = pts[i][0] - pts[j][0]
            dy = pts[i][1] - pts[j][1]
            if dx * dy > 0:
                C += 1
            elif dx * dy < 0:
                D += 1
            elif dx == 0 and dy != 0:
                Tx += 1
            elif dy == 0 and dx != 0:
                Ty += 1
    got = run("agg_kendall_tau_sampled").iloc[0]
    assert got.n_sample == len(pts)
    assert (got.concordant, got.discordant) == (C, D)
    assert (got.ties_x_only, got.ties_y_only) == (Tx, Ty)
    assert got.tau_b_milli == math.floor(
        (C - D) / math.sqrt((C + D + Tx) * (C + D + Ty)) * 1000
    )


def test_table_checksum_matches_python(run, tables):
    orders = tables["orders"]
    hs = []
    for r in orders.itertuples():
        parts = [
            str(int(r.o_orderkey)),
            str(int(r.o_custkey)),
            str(r.o_orderstatus),
            str(int(round(r.o_totalprice * 100))),
            str(pd.Timestamp(r.o_orderdate).date()),
            str(r.o_orderpriority),
        ]
        m = hashlib.md5("|".join(parts).encode()).hexdigest()
        hs.append(int(m[:12], 16))
    got = run("validate_table_checksum").iloc[0]
    assert got.n_rows == len(hs)
    assert got.n_distinct_fp == len(set(hs))
    # mod re-applied AFTER the DECIMAL(38,0) sum (round-6 hardening:
    # the raw residue sum would wrap int64 past ~9e9 rows)
    assert got.checksum_sum == sum(h % 1_000_000_007 for h in hs) % 1_000_000_007
    assert got.min_fp == min(hs)
    assert got.max_fp == max(hs)
    # order independence: reversed row order gives the same checksum
    assert (
        sum(h % 1_000_000_007 for h in reversed(hs)) % 1_000_000_007
        == got.checksum_sum
    )


def test_keyness_llr_matches_python(run, tables):
    from boat_etl_pyspark_spark.plans.text import _KEY_MIN_A, _KEY_TOP

    tokc = Counter()
    for src, text in zip(tables["documents"]["source"], tables["documents"]["text"]):
        for w in str(text).split(" "):
            if w:
                tokc[(src, w)] += 1
    src_tot = Counter()
    tok_tot = Counter()
    for (s, w), c in tokc.items():
        src_tot[s] += c
        tok_tot[w] += c
    nn = sum(src_tot.values())
    per_src = defaultdict(list)
    for (s, w), a in tokc.items():
        if a < _KEY_MIN_A:
            continue
        b = tok_tot[w] - a
        ns = src_tot[s]
        term = a * math.log(a * nn / (tok_tot[w] * ns))
        if b > 0:
            term += b * math.log(b * nn / (tok_tot[w] * (nn - ns)))
        per_src[s].append((math.floor(2000000 * term), w, a, b))
    got = run("text_keyness_llr")
    for src, items in per_src.items():
        items.sort(key=lambda r: (-r[0], r[1]))
        sub = got[got["source"] == src].sort_values("rank")
        assert len(sub) == min(_KEY_TOP, len(items))
        for row, (g2, w, a, b) in zip(sub.itertuples(index=False), items):
            assert row.tok == w
            assert row.count_in_source == a
            assert row.count_elsewhere == b
            assert row.g2_micro == g2
