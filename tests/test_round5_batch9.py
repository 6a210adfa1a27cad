"""Third-implementation cross-checks for the round-5 batch-9
operators (`plans/relational27.py`): each statistic is recomputed in
pure Python from the parquet fixtures, independent of both the Spark
plan and the DuckDB oracle, with exact ``==`` comparisons on the
scaled-integer contracts (per-term floors + arbitrary-precision int
sums match the DECIMAL(38,0)/HUGEINT accumulators exactly).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE


def rnd(v: float) -> int:
    return int(math.copysign(math.floor(abs(v) + 0.5), v))


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


def test_ks_matches_naive_ecdf_scan(run, tables):
    row = run("agg_ks_test").iloc[0]
    li = tables["lineitem"]
    a = sorted(
        int(math.floor(p))
        for p in li.loc[li.l_returnflag == "R", "l_extendedprice"]
    )
    b = sorted(
        int(math.floor(p))
        for p in li.loc[li.l_returnflag == "N", "l_extendedprice"]
    )
    na, nb = len(a), len(b)
    ca, cb = Counter(a), Counter(b)
    cum_a = cum_b = maxdiff = 0
    for g in sorted(set(a) | set(b)):
        cum_a += ca.get(g, 0)
        cum_b += cb.get(g, 0)
        maxdiff = max(maxdiff, abs(cum_a * nb - cum_b * na))
    assert (row.n_r, row.n_n) == (na, nb)
    assert row.ks_d_ppm == maxdiff * 1_000_000 // (na * nb)


def test_autocorrelation_matches_naive_series(run, tables):
    got = {
        r.lag_days: (r.n_pairs, r.acf_micro)
        for r in run("agg_autocorrelation").itertuples()
    }
    orders = tables["orders"].copy()
    orders["d"] = pd.to_datetime(orders["o_orderdate"]).dt.normalize()
    orders["cents"] = orders["o_totalprice"].map(lambda v: rnd(v * 100))
    daily = orders.groupby("d")["cents"].sum().to_dict()
    for lag in (1, 2, 3, 7):
        pairs = [
            (int(x), int(daily[d - pd.Timedelta(days=lag)]))
            for d, x in daily.items()
            if d - pd.Timedelta(days=lag) in daily
        ]
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        rho = float(n * sxy - sx * sy) / math.sqrt(
            float(n * sxx - sx * sx) * float(n * syy - sy * sy)
        )
        assert got[lag] == (n, math.floor(rho * 1e6)), f"lag {lag}"


def test_theil_matches_naive_terms(run, tables):
    row = run("agg_theil_index").iloc[0]
    orders = tables["orders"].copy()
    orders["cents"] = orders["o_totalprice"].map(lambda v: rnd(v * 100))
    spend = orders.groupby("o_custkey")["cents"].sum()
    n, s = len(spend), int(spend.sum())
    term_sum = sum(
        math.floor((float(c) * n / float(s))
                   * math.log(float(c) * n / float(s)) * 1e9)
        for c in spend
    )
    assert row.n_customers == n
    assert row.theil_term_sum_nano == term_sum
    assert row.theil_nano == term_sum // n
    assert row.theil_nano > 0  # spread exists; also guards idiv sign


def test_mutual_information_matches_naive_counts(run, tables):
    row = run("ml_mutual_information").iloc[0]
    li = tables["lineitem"]
    joint = Counter(zip(li.l_returnflag, li.l_linestatus))
    n = sum(joint.values())
    cx = Counter()
    cy = Counter()
    for (x, y), c in joint.items():
        cx[x] += c
        cy[y] += c
    mi = sum(
        math.floor((c / n) * math.log(c * n / (float(cx[x]) * cy[y])) * 1e9)
        for (x, y), c in joint.items()
    )
    hx = sum(
        math.floor(-(float(c) / n) * math.log(float(c) / n) * 1e9)
        for c in cx.values()
    )
    hy = sum(
        math.floor(-(float(c) / n) * math.log(float(c) / n) * 1e9)
        for c in cy.values()
    )
    assert row.n_rows == n
    assert row.mi_nano_nats == mi
    assert row.h_flag_nano_nats == hx
    assert row.h_status_nano_nats == hy
    assert row.nmi_milli == mi * 1000 // min(hx, hy)


def test_kfold_matches_naive_md5_and_balances(run, tables):
    got = run("ml_kfold_assign")
    cust = tables["customer"].copy()
    cust["fold"] = cust["c_custkey"].map(
        lambda k: int(hashlib.md5(str(k).encode()).hexdigest()[:6], 16) % 5
    )
    cust["bal_cents"] = cust["c_acctbal"].map(lambda v: rnd(v * 100))
    grouped = cust.groupby(["c_mktsegment", "fold"])
    exp = {
        (seg, fold): (len(g), int(g["bal_cents"].sum()))
        for (seg, fold), g in grouped
    }
    seg_tot = cust.groupby("c_mktsegment").size().to_dict()
    assert len(got) == len(exp)
    for r in got.itertuples():
        n, bal = exp[(r.segment, r.fold)]
        assert (r.n_customers, r.sum_bal_cents) == (n, bal)
        assert r.share_milli == n * 1000 // seg_tot[r.segment]
        if seg_tot[r.segment] >= 100:
            # stratified balance: fold within ~2x of the uniform share
            # (statistical property — only meaningful above tiny strata)
            assert 80 <= r.share_milli <= 320
    # floors of the five shares sum to ~1000 within each segment
    for seg, g in got.groupby("segment"):
        assert 1000 - 5 < g["share_milli"].sum() <= 1000


def test_bigram_perplexity_matches_naive_lm(run, tables):
    got = {
        r.source: (r.n_bigrams, r.nll_sum_nano, r.xent_nano_per_bigram)
        for r in run("text_bigram_perplexity").itertuples()
    }
    docs = tables["documents"]
    freq: Counter = Counter()
    ctx: Counter = Counter()
    vocab = set()
    per_source = defaultdict(list)
    for r in docs.itertuples():
        toks = [t for t in r.text.split(" ") if t]
        vocab.update(toks)
        bgs = list(zip(toks, toks[1:]))
        per_source[r.source].extend(bgs)
        freq.update(bgs)
    for (w1, _), c in freq.items():
        ctx[w1] += c
    v = len(vocab)
    for source, bgs in per_source.items():
        nll = sum(
            math.floor(-math.log((freq[bg] + 1) / (float(ctx[bg[0]]) + v))
                       * 1e9)
            for bg in bgs
        )
        assert got[source] == (len(bgs), nll, nll // len(bgs)), source


# --- batch 10 (plans/relational28.py) ---


def test_kruskal_wallis_matches_naive_ranks(run, tables):
    row = run("agg_kruskal_wallis").iloc[0]
    li = tables["lineitem"]
    vals = [(g, rnd(q)) for g, q in zip(li.l_returnflag, li.l_quantity)]
    n = len(vals)
    ct = Counter(v for _, v in vals)
    below = {}
    cum = 0
    for v in sorted(ct):
        below[v] = cum
        cum += ct[v]
    r2 = {v: 2 * below[v] + ct[v] + 1 for v in ct}  # doubled midrank
    groups = defaultdict(list)
    for g, v in vals:
        groups[g].append(v)
    rsq = sum(
        (sum(r2[v] for v in xs)) ** 2 / (4.0 * len(xs))
        for _, xs in sorted(groups.items())
    )
    ties = sum(t**3 - t for t in ct.values())
    h = 12.0 / (n * (n + 1)) * rsq - 3.0 * (n + 1)
    hc = h / (1.0 - ties / (float(n) * n * n - n))
    assert row.n_rows == n
    assert row.dof == 2
    # fixed-order double arithmetic differs between this naive sum and
    # the SQL pivot only in association order; allow 1 milli of slack
    assert abs(row.h_tie_corrected_milli - math.floor(hc * 1000)) <= 1


def test_correlation_matrix_matches_naive_sums(run, tables):
    got = {
        (r.col_a, r.col_b): (r.n_rows, r.corr_micro)
        for r in run("agg_correlation_matrix").itertuples()
    }
    li = tables["lineitem"]
    cols = {
        "quantity": [rnd(v) for v in li.l_quantity],
        "extendedprice": [rnd(v * 100) for v in li.l_extendedprice],
        "discount": [rnd(v * 10000) for v in li.l_discount],
        "tax": [rnd(v * 10000) for v in li.l_tax],
    }
    n = len(li)
    order = ["quantity", "extendedprice", "discount", "tax"]
    for i, a in enumerate(order):
        for b in order[i + 1 :]:
            xs, ys = cols[a], cols[b]
            sx, sy = sum(xs), sum(ys)
            sxx = sum(x * x for x in xs)
            syy = sum(y * y for y in ys)
            sxy = sum(x * y for x, y in zip(xs, ys))
            r = float(n * sxy - sx * sy) / math.sqrt(
                float(n * sxx - sx * sx) * float(n * syy - sy * sy)
            )
            key = (a, b) if (a, b) in got else (b, a)
            assert got[key] == (n, math.floor(r * 1e6)), key


def test_seasonal_decompose_matches_naive_windows(run, tables):
    got = {
        r.iso_dow: (r.n_days, r.seasonal_milli_cents)
        for r in run("ts_seasonal_decompose").itertuples()
    }
    orders = tables["orders"].copy()
    orders["d"] = pd.to_datetime(orders["o_orderdate"]).dt.normalize()
    orders["cents"] = orders["o_totalprice"].map(lambda v: rnd(v * 100))
    daily = orders.groupby("d")["cents"].sum().to_dict()
    anchor = pd.Timestamp("1990-01-01")
    per_dow = defaultdict(list)
    for d, cents in daily.items():
        window = [
            daily[d + pd.Timedelta(days=off)]
            for off in range(-3, 4)
            if d + pd.Timedelta(days=off) in daily
        ]
        if len(window) == 7:
            di = (d - anchor).days
            per_dow[di % 7 + 1].append(7 * int(cents) - sum(window))
    assert set(got) == set(per_dow)
    for dow, dets in per_dow.items():
        n = len(dets)
        s = sum(dets) * 1000
        # engine integer division truncates toward zero (Spark DIV,
        # DuckDB //); Python // floors — emulate truncation
        q = abs(s) // (7 * n) * (1 if s >= 0 else -1)
        assert got[dow] == (n, q), dow


def test_levene_matches_naive_deviations(run, tables):
    row = run("agg_levene_variance_test").iloc[0]
    li = tables["lineitem"]
    groups = defaultdict(list)
    for g, p in zip(li.l_returnflag, li.l_extendedprice):
        groups[g].append(rnd(p * 100))
    stats = {}
    for g, xs in groups.items():
        ng, sg = len(xs), sum(xs)
        ws = [abs(ng * x - sg) for x in xs]
        stats[g] = (ng, sum(ws) / ng, sum(w * w for w in ws) / (ng * ng))
    (n1, z1, q1), (n2, z2, q2), (n3, z3, q3) = (
        stats["A"], stats["N"], stats["R"]
    )
    n = n1 + n2 + n3
    tz = z1 + z2 + z3
    between_raw = z1 * z1 / n1 + z2 * z2 / n2 + z3 * z3 / n3
    within = (q1 - z1 * z1 / n1) + (q2 - z2 * z2 / n2) + (q3 - z3 * z3 / n3)
    f = (float(n) - 3) / 2.0 * (between_raw - tz * tz / n) / within
    assert (row.n_rows, row.n_groups) == (n, 3)
    # same slack rationale as Kruskal-Wallis: association order only
    assert abs(row.levene_f_milli - math.floor(f * 1000)) <= 1


# --- batch 11: SemDeDup (plans/mlprep.py) ---


def test_semdedup_matches_naive_cluster_prune(run, tables):
    got = {
        r.cluster_id: (r.n_members, r.n_removed, r.n_kept)
        for r in run("curate_semdedup").itertuples()
    }
    emb = tables["embeddings"].sort_values("vec_id").reset_index(drop=True)
    q = {
        int(r.vec_id): [rnd(float(x) * 1000) for x in r.embedding]
        for r in emb.itertuples()
    }
    seeds = {vid: vec for vid, vec in q.items() if vid < 8}
    assign = {}
    for vid, vec in q.items():
        best = min(
            seeds.items(),
            key=lambda kv: (
                sum((a - b) ** 2 for a, b in zip(vec, kv[1])),
                kv[0],
            ),
        )
        assign[vid] = best[0]
    n2 = {vid: sum(x * x for x in vec) for vid, vec in q.items()}
    clusters = defaultdict(list)
    for vid in sorted(assign):
        clusters[assign[vid]].append(vid)
    removed = set()
    for members in clusters.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                dot = sum(x * y for x, y in zip(q[a], q[b]))
                if dot > 0 and dot * dot * 10000 >= 1600 * n2[a] * n2[b]:
                    removed.add(b)
    exp = {
        cid: (
            len(m),
            sum(1 for v in m if v in removed),
            sum(1 for v in m if v not in removed),
        )
        for cid, m in clusters.items()
    }
    assert got == exp
    # the fixture must actually exercise the prune path
    assert sum(r for _, r, _ in got.values()) > 0


# --- batch 13 (plans/relational29.py) ---


def test_substring_dedup_matches_naive_interval_merge(run, tables):
    got = {
        r.source: (r.n_docs, r.total_tokens, r.dup_tokens, r.dup_ppm)
        for r in run("text_substring_dedup").itertuples()
    }
    docs = tables["documents"]
    W = 8
    span_docs = defaultdict(set)  # span text -> doc ids
    doc_spans = defaultdict(list)  # doc -> [start0...] (0-based)
    toks = {}
    for r in docs.itertuples():
        ts = [t for t in r.text.split(" ") if t]
        toks[r.doc_id] = ts
        for i in range(len(ts) - W + 1):
            s = " ".join(ts[i : i + W])
            span_docs[s].add(r.doc_id)
            doc_spans[r.doc_id].append((i, s))
    dup_cover = {}
    for did, spans in doc_spans.items():
        ivals = sorted(
            (i, i + W - 1) for i, s in spans if len(span_docs[s]) >= 2
        )
        covered = 0
        cur_s = cur_e = None
        for a, b in ivals:
            if cur_s is None:
                cur_s, cur_e = a, b
            elif a > cur_e:
                covered += cur_e - cur_s + 1
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_s is not None:
            covered += cur_e - cur_s + 1
        dup_cover[did] = covered
    exp = {}
    for src, g in docs.groupby("source"):
        n_tok = sum(len(toks[d]) for d in g.doc_id)
        dup = sum(dup_cover.get(d, 0) for d in g.doc_id)
        exp[src] = (len(g), n_tok, dup, dup * 1_000_000 // n_tok)
    assert got == exp
    # the fixture must actually contain cross-document duplication
    assert sum(v[2] for v in got.values()) > 0


def test_dynamic_partition_overwrite_leaves_others_untouched(run, tables):
    got = {r.status: (r.n_orders, r.total_cents)
           for r in run("io_dynamic_partition_overwrite").itertuples()}
    orders = tables["orders"].copy()
    orders["cents"] = orders["o_totalprice"].map(lambda v: rnd(v * 100))
    exp = {}
    for st, g in orders.groupby("o_orderstatus"):
        if st == "O":
            g = g[g.o_orderkey % 3 == 0]
            exp[st] = (len(g), int(g.cents.sum()) * 2)
        else:
            exp[st] = (len(g), int(g.cents.sum()))
    assert got == exp


# --- batch 14 (plans/relational30.py) ---


def test_roc_auc_matches_naive_pair_count(run, tables):
    row = run("ml_roc_auc").iloc[0]
    ev = tables["events"]
    scores = [(rnd(v * 100), 1 if t == "purchase" else 0)
              for v, t in zip(ev.value, ev.event_type)]
    pos = [s for s, y in scores if y == 1]
    neg = [s for s, y in scores if y == 0]
    # exact pairwise AUC with half-credit ties, as 2x-scaled integer
    num2 = sum(2 if p > n else (1 if p == n else 0)
               for p in pos for n in neg)
    assert (row.n_pos, row.n_neg) == (len(pos), len(neg))
    assert row.auc_ppm == num2 * 1_000_000 // (2 * len(pos) * len(neg))


def test_calibration_bins_match_naive(run, tables):
    got = {r.bin: (r.n_events, r.mean_pred_ppm, r.obs_ppm, r.gap_ppm)
           for r in run("ml_calibration_bins").itertuples()}
    ev = tables["events"]
    bins = defaultdict(list)
    for v, t in zip(ev.value, ev.event_type):
        p = min(rnd(v * 100) * 2500, 1_000_000)
        bins[min(p // 100_000, 9)].append((p, 1 if t == "purchase" else 0))
    exp = {}
    for b, rows in bins.items():
        n = len(rows)
        mp = sum(p for p, _ in rows) // n
        ob = sum(y for _, y in rows) * 1_000_000 // n
        exp[b] = (n, mp, ob, mp - ob)
    assert got == exp


def test_confusion_thresholds_match_naive(run, tables):
    got = {r.thr_cents: (r.tp, r.fp, r.fn, r.tn,
                         r.precision_milli, r.recall_milli, r.f1_milli)
           for r in run("ml_confusion_threshold").itertuples()}
    ev = tables["events"]
    scores = [(rnd(v * 100), 1 if t == "purchase" else 0)
              for v, t in zip(ev.value, ev.event_type)]
    for thr in (2500, 5000, 10000):
        tp = sum(1 for s, y in scores if s >= thr and y == 1)
        fp = sum(1 for s, y in scores if s >= thr and y == 0)
        fn = sum(1 for s, y in scores if s < thr and y == 1)
        tn = sum(1 for s, y in scores if s < thr and y == 0)
        assert got[thr] == (
            tp, fp, fn, tn,
            tp * 1000 // (tp + fp), tp * 1000 // (tp + fn),
            2 * tp * 1000 // (2 * tp + fp + fn),
        ), thr


# --- batch 15 (plans/relational31.py) ---


def test_cogrouped_asof_equals_relational_form(spark):
    """Three-way pin: the cogrouped-pandas merge_asof must reproduce
    the tagged-union window form row-for-row (both already match the
    SQL oracle independently)."""
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.plans import release_caches

    qs = m.queries()
    cog = {
        (r.purchase_id, r.user_id, r.purchase_ts_us,
         r.last_view_ts_us, r.gap_us)
        for r in qs["join_asof_cogrouped"](spark, SF_SMOKE).collect()
    }
    # the cogrouped op scopes to the deterministic 1-in-7 user subset
    # (per-key interpreter cost; see its docstring) — compare against
    # the relational form restricted to the same subset
    rel = {
        (r.purchase_id, r.user_id, r.purchase_ts_us,
         r.last_view_ts_us, r.gap_us)
        for r in qs["join_asof_purchase_last_view"](spark, SF_SMOKE)
        .where("user_id % 7 = 0")
        .collect()
    }
    release_caches(spark)
    assert cog == rel and len(cog) > 0


# --- batch 16 (plans/relational32.py) ---


def test_heavy_hitters_matches_naive_counter(run, tables):
    li = tables["lineitem"]
    keys = [
        int(ok % 5) if ok % 3 == 0 else int(ok) for ok in li["l_orderkey"]
    ]
    counts = Counter(keys)
    n = len(keys)
    expected = sorted(
        ((k, c) for k, c in counts.items() if c * 64 >= n),
        key=lambda kc: (-kc[1], kc[0]),
    )
    got = run("agg_heavy_hitters")
    assert [(r.hot_key, r.cnt) for r in got.itertuples()] == expected
    assert all(r.n_total == n for r in got.itertuples())
    assert all(
        r.share_ppm == r.cnt * 1_000_000 // n for r in got.itertuples()
    )


def test_mg_candidate_stage_is_superset_under_any_partitioning():
    """The pass-1 guarantee the plan relies on: for ANY split of the
    rows into partitions and batches, the Misra-Gries candidate union
    contains every key with global count >= N/M. Exercised with a
    64-counter summary against a skewed synthetic stream, sorted vs
    interleaved vs single-partition layouts."""
    import pandas as pd

    from boat_etl_pyspark_spark.plans.agg import (
        _HH_M,
        _mg_summaries,
    )

    rows = [k for k in range(2000) for _ in ([1] * 400 if k < 3 else [1])]
    n = len(rows)
    heavy = {
        k for k, c in Counter(rows).items() if c * _HH_M >= n
    }
    assert heavy == {0, 1, 2}  # the construction actually has hot keys

    def candidates(partitions):
        out = set()
        for part in partitions:
            batches = (
                pd.DataFrame({"k": part[i:i + 97]})
                for i in range(0, len(part), 97)
            )
            for frame in _mg_summaries(batches):
                out |= set(frame.loc[frame.k.notna(), "k"].astype(int))
        return out

    layouts = [
        [sorted(rows)],
        [sorted(rows)[i::8] for i in range(8)],
        [sorted(rows)[i * (n // 8 + 1):(i + 1) * (n // 8 + 1)]
         for i in range(9)],
        [rows],
    ]
    for layout in layouts:
        assert heavy <= candidates(layout)


def test_negative_sampling_matches_naive_md5(run, tables):
    orders, li, part = tables["orders"], tables["lineitem"], tables["part"]
    merged = orders.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    merged = merged[merged.o_custkey % 53 == 0]
    pos = set(zip(merged.o_custkey.astype(int), merged.l_partkey.astype(int)))
    pmax = int(part.p_partkey.max())
    expected = []
    for ck, pk in sorted(pos):
        for j in (1, 2, 3):
            h = hashlib.md5(f"{ck}:{pk}:{j}".encode()).hexdigest()
            neg = 1 + int(h[:6], 16) % pmax
            if (ck, neg) not in pos:
                expected.append((ck, pk, j, neg))
    got = run("ml_negative_sampling")
    assert [
        (r.custkey, r.pos_partkey, r.sample_j, r.neg_partkey)
        for r in got.itertuples()
    ] == expected
    assert all(1 <= r.neg_partkey <= pmax for r in got.itertuples())


def test_hampel_matches_naive_rolling_median(run, tables):
    from statistics import median

    ev = tables["events"]
    per_user = defaultdict(list)
    for r in ev.itertuples():
        per_user[int(r.user_id)].append(
            (int(r.ts.value // 1000), int(r.event_id), rnd(r.value * 100))
        )
    expected = {}
    for uid, rows in per_user.items():
        rows.sort()
        cents = [c for _, _, c in rows]
        n_out = max_dev = n_int = 0
        for i in range(2, len(cents) - 2):
            win = cents[i - 2:i + 3]
            med = median(win)
            mad = median(abs(x - med) for x in win)
            dev = abs(cents[i] - med)
            n_int += 1
            max_dev = max(max_dev, dev)
            n_out += dev > 3 * mad
        if n_int:
            expected[uid] = (n_int, n_out, max_dev)
    got = run("window_hampel_outliers")
    assert {
        r.user_id: (r.n_interior, r.n_outliers, r.max_dev_cents)
        for r in got.itertuples()
    } == expected


# --- batch 17 (plans/relational33.py) ---


def test_token_budget_fill_matches_naive_cumsum(run, tables):
    docs = tables["documents"].copy()
    docs["n_tokens"] = docs.text.map(lambda t: len(t.split(" ")))
    docs["hk"] = docs.doc_id.map(
        lambda d: hashlib.md5(str(int(d)).encode()).hexdigest()
    )
    docs = docs.sort_values(["hk", "doc_id"]).reset_index(drop=True)
    docs["cum"] = docs.n_tokens.cumsum()
    sel = docs[docs.cum - docs.n_tokens < 15_000]
    expected = {
        src: (len(g), int(g.n_tokens.sum()))
        for src, g in sel.groupby("source")
    }
    got = run("curate_token_budget_fill")
    assert {
        r.source: (r.n_docs_selected, r.n_tokens_selected)
        for r in got.itertuples()
    } == expected
    # the selection is a real prefix, not the whole corpus
    assert sel.n_tokens.sum() >= 15_000
    assert len(sel) < len(docs)


def test_woe_iv_matches_naive_log_terms(run, tables):
    orders = tables["orders"]
    got = run("ml_feature_woe_iv")
    k = orders.o_orderpriority.nunique()
    gt2 = 2 * int((orders.o_orderstatus != "F").sum()) + k
    bt2 = 2 * int((orders.o_orderstatus == "F").sum()) + k
    iv_terms = {}
    for pri, g in orders.groupby("o_orderpriority"):
        ng = int((g.o_orderstatus != "F").sum())
        nb = int((g.o_orderstatus == "F").sum())
        g2, b2 = 2 * ng + 1, 2 * nb + 1
        ratio = (g2 * bt2) / (b2 * gt2)
        woe = math.floor(math.log(ratio) * 1e9)
        iv = math.floor((g2 / gt2 - b2 / bt2) * math.log(ratio) * 1e9)
        iv_terms[pri] = (ng, nb, woe, iv)
    for r in got.itertuples():
        assert (r.n_good, r.n_bad, r.woe_nano, r.iv_term_nano) == iv_terms[
            r.priority
        ]
    assert got.iv_total_nano.nunique() == 1
    assert int(got.iv_total_nano.iloc[0]) == sum(
        v[3] for v in iv_terms.values()
    )


def test_basket_overlap_matches_naive_sets(run, tables):
    li, supp = tables["lineitem"], tables["supplier"]
    merged = li.merge(supp, left_on="l_suppkey", right_on="s_suppkey")
    baskets = {
        int(n): set(g.l_partkey.astype(int))
        for n, g in merged.groupby("s_nationkey")
    }
    got = run("agg_basket_overlap")
    nations = sorted(baskets)
    assert len(got) == len(nations) * (len(nations) - 1) // 2
    for r in got.itertuples():
        a, b = baskets[r.n1], baskets[r.n2]
        inter = len(a & b)
        assert r.n1 < r.n2
        assert (r.n_inter, r.n_parts_1, r.n_parts_2) == (
            inter, len(a), len(b),
        )
        assert r.jaccard_ppm == inter * 1_000_000 // len(a | b)


# --- batch 18 (plans/relational34.py) ---


def test_pr_auc_matches_naive_step_curve(run, tables):
    ev = tables["events"]
    scores = [rnd(v * 100) for v in ev.value]
    ys = [1 if t == "purchase" else 0 for t in ev.event_type]
    by_s = defaultdict(lambda: [0, 0])
    for s, y in zip(scores, ys):
        by_s[s][0] += y
        by_s[s][1] += 1
    n_pos = sum(ys)
    cum_tp = cum_all = 0
    term_sum = 0
    for s in sorted(by_s, reverse=True):
        cp, ct = by_s[s]
        cum_tp += cp
        cum_all += ct
        term_sum += cp * cum_tp * 1_000_000_000 // cum_all
    row = run("ml_pr_auc").iloc[0]
    assert (row.n_pos, row.n_neg) == (n_pos, len(ys) - n_pos)
    assert row.ap_nano == term_sum // n_pos
    # sanity: AP of a near-random score on a ~20%-positive class sits
    # between the base rate and a strong classifier
    assert 0 < row.ap_nano < 1_000_000_000


def test_bot_detection_matches_naive_cv(run, tables):
    ev = tables["events"]
    per_user = defaultdict(list)
    for r in ev.itertuples():
        per_user[int(r.user_id)].append((int(r.ts.value // 1000),
                                         int(r.event_id)))
    expected = {}
    for uid, rows in per_user.items():
        rows.sort()
        gaps = [b[0] - a[0] for a, b in zip(rows, rows[1:])]
        if not gaps:
            continue
        n, s1, s2 = len(gaps), sum(gaps), sum(g * g for g in gaps)
        cv = math.floor(math.sqrt(n * s2 - s1 * s1) / s1 * 1e6)
        flag = 1 if n >= 19 and cv < 250_000 else 0
        expected[uid] = (n, s1 // n, cv, flag)
    got = run("events_bot_detection")
    assert {
        r.user_id: (r.n_gaps, r.mean_gap_us, r.cv_ppm, r.bot_flag)
        for r in got.itertuples()
    } == expected
    # random fixture arrivals: CV clusters near 1e6, nothing flags
    assert got.bot_flag.sum() == 0


def test_bot_detection_flags_a_synthetic_bot():
    """The threshold actually fires on regular spacing: a constant
    600s cadence over 30 events has CV 0 and must flag."""
    gaps = [600_000_000] * 29
    n, s1, s2 = len(gaps), sum(gaps), sum(g * g for g in gaps)
    cv = math.floor(math.sqrt(n * s2 - s1 * s1) / s1 * 1e6)
    assert n >= 19 and cv < 250_000


def test_trimmed_winsorized_matches_naive_sort(run, tables):
    orders = tables["orders"]
    vals = sorted(
        (rnd(p * 100), int(k))
        for p, k in zip(orders.o_totalprice, orders.o_orderkey)
    )
    n = len(vals)
    k = n * 5 // 100
    kept = [c for c, _ in vals[k:n - k]]
    lo, hi = vals[k][0], vals[n - k - 1][0]
    row = run("agg_trimmed_winsorized_mean").iloc[0]
    assert (row.n_orders, row.k_trim) == (n, k)
    assert (row.lo_clamp_cents, row.hi_clamp_cents) == (lo, hi)
    assert row.trimmed_mean_micro_cents == sum(kept) * 1_000_000 // len(kept)
    assert row.winsorized_mean_micro_cents == (
        (sum(kept) + k * (lo + hi)) * 1_000_000 // n
    )


# --- batch 19 (plans/relational35.py) ---


def test_minhash_calibration_matches_naive_python(run, tables):
    """Full pure-Python recompute of the calibration table — shingles,
    one md5 per shingle, 12 affine permutations, banded candidates,
    exact Jaccard — independent of both engines."""
    from boat_etl_pyspark_spark.plans.textdedup import _MH_A, _MH_B, _MH_P

    shingles = {}
    for r in tables["documents"].itertuples():
        t = r.text.split(" ")
        # mirror the SQL: sequence(1, greatest(size-2, 1)) over t
        shingles[int(r.doc_id)] = {
            " ".join(t[i:i + 3]) for i in range(max(len(t) - 2, 1))
        }
    sigs, bands = {}, defaultdict(set)
    for d, sh in shingles.items():
        h0 = [
            int(hashlib.md5(x.encode()).hexdigest()[:15], 16) % _MH_P
            for x in sh
        ]
        mh = [
            min((_MH_A[i] * h + _MH_B[i]) % _MH_P for h in h0)
            for i in range(12)
        ]
        sigs[d] = mh
        for j in range(4):
            key = hashlib.md5(
                ",".join(str(v) for v in mh[j * 3:j * 3 + 3]).encode()
            ).hexdigest()
            bands[(j, key)].add(d)
    cand = set()
    for members in bands.values():
        ms = sorted(members)
        cand |= {(a, b) for i, a in enumerate(ms) for b in ms[i + 1:]}
    buckets = defaultdict(list)
    for a, b in cand:
        matches = sum(x == y for x, y in zip(sigs[a], sigs[b]))
        inter = len(shingles[a] & shingles[b])
        ppm = inter * 1_000_000 // len(shingles[a] | shingles[b])
        buckets[matches].append(ppm)
    expected = {}
    for m, ppms in buckets.items():
        mean = sum(ppms) // len(ppms)
        expected[m] = (
            m * 1_000_000 // 12, len(ppms), mean, min(ppms), max(ppms),
            m * 1_000_000 // 12 - mean,
        )
    got = run("dedup_minhash_calibration")
    assert {
        r.sig_matches: (
            r.est_jaccard_ppm, r.n_pairs, r.mean_exact_ppm,
            r.min_exact_ppm, r.max_exact_ppm, r.bias_ppm,
        )
        for r in got.itertuples()
    } == expected
    assert len(got) > 0


def test_lift_gains_matches_naive_sort(run, tables):
    ev = tables["events"]
    rows = sorted(
        (-rnd(v * 100), int(e), 1 if t == "purchase" else 0)
        for v, e, t in zip(ev.value, ev.event_id, ev.event_type)
    )
    n = len(rows)
    tot_pos = sum(y for _, _, y in rows)
    per = defaultdict(lambda: [0, 0])
    for i, (_, _, y) in enumerate(rows):
        d = i * 10 // n + 1
        per[d][0] += 1
        per[d][1] += y
    got = run("ml_lift_gains_table")
    cum_n = cum_p = 0
    for r in got.itertuples():
        ne, np_ = per[r.decile]
        cum_n += ne
        cum_p += np_
        assert (r.n_events, r.n_pos) == (ne, np_)
        assert r.cum_gains_ppm == cum_p * 1_000_000 // tot_pos
        assert r.cum_lift_milli == cum_p * n * 1000 // (cum_n * tot_pos)
    assert list(got.decile) == list(range(1, 11))
    # the model is informative: the top decile over-captures purchases
    assert got.cum_lift_milli.iloc[0] > 1000


# --- batch 20 (plans/relational36.py) ---


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def test_mmr_matches_naive_greedy(run, tables):
    emb = tables["embeddings"]
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.itertuples()
    }
    n2 = {d: _fold_dot(v, v) for d, v in vecs.items()}
    q = 3
    rel = {
        d: _fold_dot(vecs[q], v) / math.sqrt(n2[q] * n2[d])
        for d, v in vecs.items() if d != q
    }
    cands = sorted(rel, key=lambda d: (-rel[d], d))[:16]
    cos = {
        (a, b): _fold_dot(vecs[a], vecs[b]) / math.sqrt(n2[a] * n2[b])
        for a in cands for b in cands if a != b
    }
    sel = [min(cands, key=lambda d: (-rel[d], d))]
    while len(sel) < 5:
        rest = [d for d in cands if d not in sel]
        best = min(
            rest,
            key=lambda d: (
                -(0.5 * rel[d] - 0.5 * max(cos[(d, s)] for s in sel)), d,
            ),
        )
        sel.append(best)
    got = run("sim_mmr_diverse_topk")
    assert list(got.vec_id) == sel
    assert list(got.pick_order) == [1, 2, 3, 4, 5]
    # diversity must actually bite: the MMR picks differ from the
    # plain relevance top-5 beyond the (shared) first pick
    assert sel != cands[:5]


def test_circular_stats_matches_naive_trig(run, tables):
    ev = tables["events"]
    day = 86_400_000_000
    acc = defaultdict(lambda: [0, 0, 0])
    for r in ev.itertuples():
        us = int(r.ts.value // 1000) % day
        ang = us * 2 * math.pi / day
        a = acc[r.event_type]
        a[0] += 1
        a[1] += math.floor(math.sin(ang) * 1e9)
        a[2] += math.floor(math.cos(ang) * 1e9)
    got = run("ts_circular_time_stats")
    for r in got.itertuples():
        n, ssum, csum = acc[r.event_type]
        theta = math.atan2(float(ssum), float(csum))
        assert r.n_events == n
        assert r.mean_angle_milli_rad == math.floor(theta * 1000)
        assert r.mean_second_of_day == math.floor(
            ((theta + 2 * math.pi) % (2 * math.pi)) / (2 * math.pi) * 86400
        )
        assert r.resultant_ppm == math.floor(
            math.sqrt(float(ssum) ** 2 + float(csum) ** 2) / (n * 1e9) * 1e6
        )
    # uniform arrivals: the resultant length is tiny at every type
    assert (got.resultant_ppm < 200_000).all()


# --- batch 21 (streaming_plans.py: checkpoint restart) ---


def test_checkpoint_restart_matches_naive_and_is_incremental(run, tables):
    """The restarted stream's merged sink must equal the batch
    tumbling aggregate (only possible if window state survived the
    restart), AND the checkpoint must show exactly five micro-batches
    (one per run-1 file, 1 for run 2's single new file, plus one no-data
    watermark-finalization batch per run = 5 total; run 2 re-reading
    old files would add more). Only-one-data-batch-in-run-2 plus
    value equality together prove the window STATE was restored from
    the checkpoint (matching totals without re-reading old rows)."""
    import hashlib
    import os
    import tempfile

    got = run("stream_checkpoint_restart")
    ev = tables["events"]
    day6 = 21_600_000_000
    expected = defaultdict(lambda: [0, 0])
    for r in ev.itertuples():
        us = int(r.ts.value // 1000)
        ws = us // day6 * day6
        a = expected[(ws, r.event_type)]
        a[0] += 1
        a[1] += rnd(r.value * 100)
    assert {
        (r.ws_us, r.event_type): [r.n_events, r.value_cents]
        for r in got.itertuples()
    } == dict(expected)
    assert (got.we_us - got.ws_us == day6).all()
    key = (
        f"{hashlib.md5(SF_SMOKE.encode()).hexdigest()[:12]}_{os.getpid()}"
    )
    from boat_etl_pyspark_spark.streaming.events import scratch_dir

    ckpt = os.path.join(scratch_dir(), f"spark_graft_ckr_c_{key}")
    offsets = [
        f for f in os.listdir(os.path.join(ckpt, "offsets"))
        if not f.startswith(".")
    ]
    assert len(offsets) == 5, f"expected 5 micro-batches, saw {offsets}"
