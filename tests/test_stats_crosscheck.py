"""Third-implementation cross-checks for the round-4 statistics and
corpus-scoring operators: every expected value is recomputed in pure
Python/pandas from the parquet fixtures — independent of BOTH the
Spark plan and the DuckDB oracle, so a formula error shared by plan
and oracle (the failure mode DuckDB parity cannot see) fails here.

Exactness: the operators' contracts floor every float to scaled
integers before aggregation, and Python's arbitrary-precision ints
match the DECIMAL(38,0)/HUGEINT accumulators exactly; math.log /
math.sqrt are the same libm doubles the engines use (verified bit-
identical earlier in the build), so comparisons are ==, not approx.
"""

from __future__ import annotations

import hashlib
import math
import re

import pandas as pd

from tests.conftest import SF_SMOKE, rnd


def test_ewma_matches_naive_recursion(run, tables):
    got = {
        r.o_custkey: (r.n_orders, r.ewma_milli_cents)
        for r in run("window_ewma_spend").itertuples()
    }
    orders = tables["orders"].copy()
    orders["cents"] = orders["o_totalprice"].map(lambda v: rnd(v * 100))
    for ck, g in orders.sort_values(["o_orderdate", "o_orderkey"]).groupby(
        "o_custkey"
    ):
        xs = [int(c) * 1000 for c in g["cents"]]
        n = len(xs)
        # shift-exact EWMA: per-term floor(m / 2^k), not the float
        # recursion — the operator's declared fixed-point contract
        # position p (1-based) carries weight 2^-(n-p+1) for p >= 2 and
        # 2^-(n-1) for p = 1; with 0-based i = p-1 the shift is n - i
        total = xs[0] >> min(n - 1, 63)
        for i in range(1, n):
            total += xs[i] >> min(n - i, 63)
        assert got[ck] == (n, total), f"custkey {ck}"


def test_gini_matches_naive_formula(run, tables):
    row = run("agg_gini_concentration").iloc[0]
    orders = tables["orders"].copy()
    orders["cents"] = orders["o_totalprice"].map(lambda v: rnd(v * 100))
    spend = orders.groupby("o_custkey")["cents"].sum().astype(int)
    s = sorted(zip(spend.values.tolist(), spend.index.tolist()))
    n = len(s)
    t = sum(v for v, _ in s)
    w = sum((i + 1) * v for i, (v, _) in enumerate(s))
    gini = math.floor(float(2 * w - (n + 1) * t) / float(n * t) * 1e6)
    assert (row.n_customers, row.total_cents, row.gini_micro) == (n, t, gini)


def test_benford_matches_log10(run, tables):
    got = run("agg_benford_profile").set_index("digit")
    orders = tables["orders"]
    digits = orders["o_totalprice"].map(lambda v: int(str(rnd(v * 100))[0]))
    counts = digits.value_counts()
    total = int(counts.sum())
    for d, cnt in counts.items():
        exp_ppm = math.floor(math.log10(1 + 1.0 / d) * 1e6)
        obs_ppm = 1000000 * int(cnt) // total
        r = got.loc[d]
        assert (r.n, r.observed_ppm, r.expected_ppm) == (cnt, obs_ppm, exp_ppm)
        assert r.deviation_ppm == abs(obs_ppm - exp_ppm)


def test_chi2_matches_naive(run, tables):
    row = run("agg_chi2_independence").iloc[0]
    merged = tables["orders"].merge(
        tables["customer"], left_on="o_custkey", right_on="c_custkey"
    )
    tab = merged.groupby(["c_mktsegment", "o_orderpriority"]).size()
    n = int(tab.sum())
    rows = tab.groupby(level=0).sum()
    cols = tab.groupby(level=1).sum()
    chi2 = 0
    for (seg, pri), o in tab.items():
        e = float(rows[seg]) * cols[pri] / n
        chi2 += math.floor((o - e) * (o - e) / e * 1e6)
    assert row.n_orders == n
    assert row.dof == (len(rows) - 1) * (len(cols) - 1)
    assert row.chi2_micro == chi2


def test_linear_regression_matches_power_sums(run, tables):
    got = run("agg_linear_regression").set_index("grp")
    li = tables["lineitem"]
    for grp, g in li.groupby("l_returnflag"):
        x = g["l_quantity"].astype(int)
        y = g["l_extendedprice"].map(lambda v: rnd(v * 100))
        n = len(g)
        sx, sy = int(x.sum()), int(y.sum())
        sxx = int((x * x).sum())
        sxy = int((x * y).sum())
        syy = sum(int(v) * int(v) for v in y)
        num, den, deny = n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy
        r = got.loc[grp]
        assert r.slope_micro_cents == math.floor(float(num) / float(den) * 1e6)
        assert r.intercept_milli_cents == math.floor(
            (float(sy) - float(num) / float(den) * float(sx)) / float(n) * 1e3
        )
        assert r.r2_micro == math.floor(
            float(num) * float(num) / (float(den) * float(deny)) * 1e6
        )


def test_welch_matches_naive(run, tables):
    row = run("agg_welch_ttest").iloc[0]
    ev = tables["events"]
    ev = ev[ev["event_type"] == "purchase"]
    arms = {}
    for variant, g in ev.groupby(ev["user_id"] % 2):
        v = g["value"].map(lambda x: rnd(x * 100))
        arms["A" if variant == 0 else "B"] = (
            len(v),
            int(v.sum()),
            sum(int(t) * int(t) for t in v),
        )
    (na, s1a, s2a), (nb, s1b, s2b) = arms["A"], arms["B"]
    ma, mb = float(s1a) / na, float(s1b) / nb
    sea = (float(na) * float(s2a) - float(s1a) * float(s1a)) / (
        float(na) * (na - 1) * na
    )
    seb = (float(nb) * float(s2b) - float(s1b) * float(s1b)) / (
        float(nb) * (nb - 1) * nb
    )
    assert (row.n_a, row.n_b) == (na, nb)
    assert row.mean_a_deci_cents == math.floor(ma * 10)
    assert row.mean_b_deci_cents == math.floor(mb * 10)
    assert row.t_milli == math.floor((ma - mb) / math.sqrt(sea + seb) * 1000)
    assert row.dof_milli == math.floor(
        (sea + seb) * (sea + seb)
        / (sea * sea / (na - 1) + seb * seb / (nb - 1))
        * 1000
    )


def test_bfs_matches_naive_python(run, tables):
    got = {
        int(r.nation): (None if pd.isna(r.hops) else int(r.hops))
        for r in run("graph_bfs_reachability").itertuples()
    }
    li = tables["lineitem"][["l_orderkey", "l_suppkey"]]
    o = tables["orders"][["o_orderkey", "o_custkey"]]
    s = tables["supplier"][["s_suppkey", "s_nationkey"]]
    c = tables["customer"][["c_custkey", "c_nationkey"]]
    e = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(s, left_on="l_suppkey", right_on="s_suppkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
        .groupby(["s_nationkey", "c_nationkey"])
        .size()
        .reset_index(name="w")
    )
    adj: dict[int, list[int]] = {}
    for src, g in e.groupby("s_nationkey"):
        top = g.sort_values(["w", "c_nationkey"], ascending=[False, True]).head(3)
        adj[int(src)] = [int(d) for d in top["c_nationkey"]]
    nodes = set(adj) | {d for ds in adj.values() for d in ds}
    dist = {n: (0 if n == 0 else None) for n in nodes}
    for _ in range(4):
        new = dict(dist)
        for src, ds in adj.items():
            if dist[src] is not None:
                for d in ds:
                    cand = dist[src] + 1
                    if new[d] is None or cand < new[d]:
                        new[d] = cand
        dist = new
    assert got == dist


def test_rate_spike_matches_pandas_rolling(run, tables):
    got = run("events_rate_spike_zscore")
    ev = tables["events"].copy()
    ev["day"] = ev["ts"].dt.strftime("%Y-%m-%d")
    daily = ev.groupby(["event_type", "day"]).size().reset_index(name="n")
    expected = {}
    for et, g in daily.groupby("event_type"):
        g = g.sort_values("day")
        ns = [int(x) for x in g["n"]]
        for i, day in enumerate(g["day"]):
            window = ns[max(0, i - 7) : i]
            z = None
            if len(window) == 7:
                ssum, ssq = sum(window), sum(v * v for v in window)
                var = 7 * ssq - ssum * ssum
                if var > 0:
                    z = math.floor(
                        float(7 * ns[i] - ssum) / math.sqrt(float(var)) * 1000
                    )
            expected[(et, day)] = (ns[i], z)
    for r in got.itertuples():
        z = None if pd.isna(r.z_milli) else int(r.z_milli)
        assert expected[(r.event_type, r.day)] == (r.n, z)


def test_rolling_regression_matches_pandas(run, tables):
    got = run("window_rolling_regression")
    ev = tables["events"].copy()
    ev["x"] = (ev["ts"].dt.floor("D") - pd.Timestamp("1970-01-01")).dt.days
    ev["cents"] = ev["value"].map(lambda v: rnd(v * 100))
    daily = ev.groupby(["event_type", "x"])["cents"].sum().reset_index(name="y")
    expected = {}
    for et, g in daily.groupby("event_type"):
        g = g.sort_values("x")
        pts = [(int(a), int(b)) for a, b in zip(g["x"], g["y"])]
        for i in range(len(pts)):
            window = pts[max(0, i - 6) : i + 1]
            slope = None
            if len(window) == 7:
                n = 7
                sx = sum(x for x, _ in window)
                sy = sum(y for _, y in window)
                sxx = sum(x * x for x, _ in window)
                sxy = sum(x * y for x, y in window)
                den = n * sxx - sx * sx
                if den > 0:
                    slope = math.floor(
                        float(n * sxy - sx * sy) / float(den) * 1000
                    )
            expected[(et, pts[i][0])] = (pts[i][1], slope)
    for r in got.itertuples():
        slope = (
            None
            if pd.isna(r.slope_milli_cents_per_day)
            else int(r.slope_milli_cents_per_day)
        )
        assert expected[(r.event_type, r.epoch_day)] == (r.day_cents, slope)


def test_surprisal_matches_counter(run, tables):
    got = run("text_unigram_surprisal").set_index("doc_id")
    docs = tables["documents"]
    from collections import Counter

    toks = {
        int(r.doc_id): [t for t in r.text.split(" ") if t]
        for r in docs.itertuples()
    }
    counts: Counter = Counter()
    for ts in toks.values():
        counts.update(ts)
    total = sum(counts.values())
    for doc_id, ts in toks.items():
        cost = sum(
            math.floor(-math.log(float(counts[t]) / total) * 1000000)
            for t in ts
        )
        r = got.loc[doc_id]
        assert (r.n_tokens, r.surprisal_micro, r.avg_surprisal_micro) == (
            len(ts),
            cost,
            cost // len(ts),
        )


def test_readability_matches_re(run, tables):
    got = run("text_readability").set_index("doc_id")
    for r in tables["documents"].itertuples():
        text = r.text
        w = len([t for t in text.split(" ") if t])
        if w == 0:
            continue
        enders = len(re.split(r"[.!?]+", text)) - 1
        s = enders if enders > 0 else math.ceil(w / 15.0)
        lower = text.lower()
        syl = len(re.sub(r"[aeiouy]+", "@", lower)) - len(
            re.sub(r"[aeiouy]", "", lower)
        )
        syl = max(syl, 1)
        flesch = math.floor(
            (206.835 - 1.015 * (float(w) / s) - 84.6 * (float(syl) / w)) * 1000
        )
        g = got.loc[r.doc_id]
        assert (g.n_words, g.n_sentences, g.n_syllables, g.flesch_milli) == (
            w,
            s,
            syl,
            flesch,
        )


def test_boilerplate_strip_matches_hashlib(run, tables):
    got = run("text_boilerplate_strip").set_index("doc_id")
    from collections import defaultdict

    blocks = {}
    for r in tables["documents"].itertuples():
        words = [t for t in r.text.split(" ") if t]
        bs = [
            " ".join(words[i * 3 : i * 3 + 3])
            for i in range(math.ceil(len(words) / 3.0))
        ]
        blocks[int(r.doc_id)] = bs
    docs_per_hash = defaultdict(set)
    for doc_id, bs in blocks.items():
        for b in bs:
            docs_per_hash[b].add(doc_id)
    boiler = {b for b, ds in docs_per_hash.items() if len(ds) >= 5}
    for doc_id, bs in blocks.items():
        if not bs:  # whitespace-only doc: both engines emit no row
            assert doc_id not in got.index
            continue
        kept = [b for b in bs if b not in boiler]
        clean = hashlib.md5(" ".join(kept).encode()).hexdigest()
        g = got.loc[doc_id]
        assert (g.n_blocks, g.n_boiler, g.clean_md5) == (
            len(bs),
            sum(1 for b in bs if b in boiler),
            clean,
        )


def test_importance_weights_match_hashlib(run, tables):
    got = run("curate_importance_weights").set_index("doc_id")
    from collections import Counter, defaultdict

    B = 256
    per_doc: dict[int, Counter] = {}
    q_c: Counter = Counter()
    p_c: Counter = Counter()
    for r in tables["documents"].itertuples():
        ts = [t for t in r.text.split(" ") if t]
        if len(ts) < 2:
            continue
        is_target = r.n_chars >= 400
        c: Counter = Counter()
        for a, b in zip(ts, ts[1:]):
            h = hashlib.md5(f"{a} {b}".encode()).hexdigest()
            bucket = int(h[:15], 16) % B
            c[bucket] += 1
        per_doc[int(r.doc_id)] = c
        q_c.update(c)
        if is_target:
            p_c.update(c)
    tq, tp = sum(q_c.values()), sum(p_c.values())
    lam = {
        b: math.log(
            (float(p_c.get(b, 0) + 1) / float(tp + B))
            / (float(q_c[b] + 1) / float(tq + B))
        )
        for b in q_c
    }
    for doc_id, c in per_doc.items():
        weight = sum(
            math.floor(cnt * lam[b] * 1000000) for b, cnt in c.items()
        )
        g = got.loc[doc_id]
        assert (g.n_bigrams, g.weight_micro) == (sum(c.values()), weight)


def test_pca_power_matches_numpy(run, tables):
    import numpy as np

    got = run("embed_pca_power").set_index("dim").sort_index()
    emb = tables["embeddings"]
    q = np.stack(
        [
            np.array([rnd(float(x) * 1000) for x in v[:16]], dtype=object)
            for v in emb["embedding"]
        ]
    )
    gram = q.T @ q  # python ints, exact
    v = np.array([1000] * 16, dtype=object)
    for _ in range(3):
        gv = gram @ v
        mx = max(abs(int(x)) for x in gv)
        v = np.array(
            [math.floor(float(int(x)) * 1000 / mx) for x in gv], dtype=object
        )
    gv = gram @ v
    vgv = int(v @ gv)
    vv = int(v @ v)
    rayleigh = math.floor(float(vgv) / float(vv) * 1e6)
    assert [int(x) for x in got["v_scaled"]] == [int(x) for x in v]
    assert set(got["rayleigh_micro"]) == {rayleigh}


def test_zipf_matches_counter(run, tables):
    row = run("text_zipf_fit").iloc[0]
    from collections import Counter

    counts: Counter = Counter()
    for r in tables["documents"].itertuples():
        counts.update(t for t in r.text.split(" ") if t)
    vocab = sorted(
        ((c, t) for t, c in counts.items() if c >= 5),
        key=lambda p: (-p[0], p[1]),
    )
    pts = [
        (
            math.floor(math.log(float(i + 1)) * 1e6),
            math.floor(math.log(float(c)) * 1e6),
        )
        for i, (c, _) in enumerate(vocab)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    assert row.n_vocab == n
    assert row.slope_micro == math.floor(float(num) / float(den) * 1e6)


def test_entropy_matches_counter(run, tables):
    from collections import Counter, defaultdict

    got = run("text_entropy_per_source").set_index("source")
    per_src: dict[str, Counter] = defaultdict(Counter)
    for r in tables["documents"].itertuples():
        per_src[r.source].update(t for t in r.text.split(" ") if t)
    for src, counts in per_src.items():
        s = sum(counts.values())
        ent = sum(
            math.floor(-(float(c) / s) * math.log(float(c) / s) * 1e9)
            for c in counts.values()
        )
        g = got.loc[src]
        assert (g.n_tokens, g.n_vocab, g.entropy_nano_nats) == (
            s,
            len(counts),
            ent,
        )


def test_asof_nearest_matches_naive(run, tables):
    got = {
        int(r.purchase_id): (
            None if pd.isna(r.nearest_view_ts_us) else int(r.nearest_view_ts_us),
            None if (r.direction is None or pd.isna(r.direction)) else r.direction,
        )
        for r in run("join_asof_nearest").itertuples()
    }
    TOL = 2 * 3600 * 1_000_000
    ev = tables["events"]
    ev = ev[ev["event_type"].isin(["view", "purchase"])].copy()
    # normalize to microseconds regardless of the parquet->pandas unit
    ev["us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    expected = {}
    for _, g in ev.groupby("user_id"):
        g = g.copy()
        g["kind"] = (g["event_type"] == "purchase").astype(int)
        g = g.sort_values(["us", "kind", "event_id"]).reset_index(drop=True)
        for i, row in g.iterrows():
            if row["kind"] != 1:
                continue
            before, after = g.loc[: i - 1], g.loc[i + 1 :]
            prev_views = [
                int(u) for u in before[before["kind"] == 0]["us"].dropna()
            ] if i > 0 else []
            next_views = [
                int(u) for u in after[after["kind"] == 0]["us"].dropna()
            ]
            back = int(row["us"]) - max(prev_views) if prev_views else None
            fwd = min(next_views) - int(row["us"]) if next_views else None
            if back is not None and back <= TOL and (
                fwd is None or back <= fwd or fwd > TOL
            ):
                expected[int(row["event_id"])] = (
                    int(row["us"]) - back,
                    "backward",
                )
            elif fwd is not None and fwd <= TOL:
                expected[int(row["event_id"])] = (int(row["us"]) + fwd, "forward")
            else:
                expected[int(row["event_id"])] = (None, None)
    assert got == expected


def test_pipeline_report_matches_naive(run, tables):
    got = {
        r.stage: (r.n_docs, r.n_tokens)
        for r in run("curate_corpus_pipeline_report").itertuples()
    }
    docs = tables["documents"]
    pool = [
        (int(r.doc_id), r.text, int(r.n_chars),
         len([t for t in r.text.split(" ") if t]))
        for r in docs.itertuples()
        if r.doc_id % 11 != 0
    ]
    q = [d for d in pool if d[3] >= 20 and 100 <= d[2] <= 2000]
    seen: dict[str, int] = {}
    for doc_id, text, nc, nt in sorted(q):
        h = hashlib.md5(text.encode()).hexdigest()
        seen.setdefault(h, doc_id)
    kept_ids = set(seen.values())
    d = [x for x in q if x[0] in kept_ids]

    def grams(text):
        t = text.split(" ")
        n = max(len(t) - 7, 1)
        return {
            hashlib.md5(" ".join(t[i : i + 8]).encode()).hexdigest()
            for i in range(n)
        }

    eval_grams = set()
    for r in docs.itertuples():
        if r.doc_id % 11 == 0:
            eval_grams |= grams(r.text)
    clean = [x for x in d if not (grams(x[1]) & eval_grams)]
    split = {}
    for doc_id, text, nc, nt in clean:
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:6], 16) % 100
        split.setdefault("5_train" if b < 90 else "5_val", []).append(nt)
    expected = {
        "0_pool": (len(pool), sum(x[3] for x in pool)),
        "1_quality": (len(q), sum(x[3] for x in q)),
        "2_dedup": (len(d), sum(x[3] for x in d)),
        "3_decontaminated": (len(clean), sum(x[3] for x in clean)),
    }
    for k, v in split.items():
        expected[k] = (len(v), sum(v))
    assert got == expected


def test_recursive_routes_match_naive(run, tables):
    got = {
        int(r.nation): (int(r.min_hops), int(r.min_cost), int(r.n_paths))
        for r in run("graph_recursive_route_cost").itertuples()
    }
    li = tables["lineitem"][["l_orderkey", "l_suppkey"]]
    o = tables["orders"][["o_orderkey", "o_custkey"]]
    s = tables["supplier"][["s_suppkey", "s_nationkey"]]
    c = tables["customer"][["c_custkey", "c_nationkey"]]
    e = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(s, left_on="l_suppkey", right_on="s_suppkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
        .groupby(["s_nationkey", "c_nationkey"])
        .size()
        .reset_index(name="w")
    )
    adj: dict[int, list[tuple[int, int]]] = {}
    for src, g in e.groupby("s_nationkey"):
        top = g.sort_values(["w", "c_nationkey"], ascending=[False, True]).head(3)
        adj[int(src)] = [(int(d), 1000000 // int(w)) for d, w in
                         zip(top["c_nationkey"], top["w"])]
    # enumerate all paths from seed 3 up to 3 hops
    paths = []  # (dst, hops, cost)
    frontier = [(3, 0, 0)]
    for _ in range(3):
        nxt = []
        for node, hops, cost in frontier:
            for d, ec in adj.get(node, []):
                rec = (d, hops + 1, cost + ec)
                paths.append(rec)
                nxt.append(rec)
        frontier = nxt
    from collections import defaultdict

    agg = defaultdict(lambda: [99, 10**18, 0])
    for d, h, cst in paths:
        a = agg[d]
        a[0] = min(a[0], h)
        a[1] = min(a[1], cst)
        a[2] += 1
    assert got == {d: tuple(a) for d, a in agg.items()}


def test_boilerplate_strip_whitespace_only_doc(spark, oracle, tmp_path):
    """Regression (round-5 advice): a whitespace-only document made
    Spark's sequence(0, -1) auto-step DESCENDING to [0, -1], emitting
    two phantom ''-block rows while DuckDB's range(0) emitted none.
    Both engines now filter size(words) > 0, so the doc is absent from
    both outputs and full parity holds on a fixture that contains one."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as m
    from tests.test_oracle_parity import frames_equal

    d = str(tmp_path / "sf_ws")
    os.makedirs(d)
    for p in glob.glob(os.path.join(SF_SMOKE, "*.parquet")):
        if os.path.basename(p) != "documents.parquet":
            os.symlink(p, os.path.join(d, os.path.basename(p)))
    docs = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    ws_id = pa.compute.max(docs["doc_id"]).as_py() + 1
    extra = pa.table(
        {
            "doc_id": pa.array([ws_id], pa.int64()),
            "text": pa.array(["   "], pa.string()),
            "lang": pa.array(["en"], pa.string()),
            "source": pa.array(["ws"], pa.string()),
            "n_chars": pa.array([3], pa.int64()),
        }
    )
    merged = pa.concat_tables([docs.select(extra.column_names), extra])
    pq.write_table(merged, os.path.join(d, "documents.parquet"), version="2.6")

    spark_pd = m.queries()["text_boilerplate_strip"](spark, d).toPandas()
    oracle_pd = oracle(d).execute(m.oracle_sql()["text_boilerplate_strip"]).fetchdf()
    assert ws_id not in set(spark_pd["doc_id"])
    assert ws_id not in set(oracle_pd["doc_id"])
    assert not frames_equal(spark_pd, oracle_pd)


def test_target_encoding_matches_naive(run, tables):
    got = {r.segment: r for r in run("ml_target_encoding").itertuples()}
    j = tables["orders"].merge(
        tables["customer"], left_on="o_custkey", right_on="c_custkey"
    )
    j["cents"] = j["o_totalprice"].map(lambda v: rnd(v * 100))
    seg = {
        s: (len(g), int(g["cents"].sum()))
        for s, g in j.groupby("c_mktsegment")
    }
    gn = sum(n for n, _ in seg.values())
    gs = sum(s for _, s in seg.values())
    assert set(got) == set(seg)
    for s, (n, tot) in seg.items():
        r = got[s]
        assert (r.n_orders, r.mean_cents, r.encoded_cents) == (
            n,
            tot // n,
            (tot * gn + 100 * gs) // ((n + 100) * gn),
        )


def test_feature_hashing_matches_hashlib(run, tables):
    got = {r.bucket: r for r in run("ml_feature_hashing").itertuples()}
    from collections import defaultdict

    n_tok = defaultdict(int)
    toks = defaultdict(set)
    sgn = defaultdict(int)
    for name in tables["part"]["p_name"]:
        for t in name.split(" "):
            if not t:
                continue
            h = hashlib.md5(t.encode()).hexdigest()
            b = int(h[:6], 16) % 64
            n_tok[b] += 1
            toks[b].add(t)
            sgn[b] += 1 if int(h[6], 16) % 2 == 0 else -1
    assert set(got) == set(n_tok)
    for b in n_tok:
        r = got[b]
        assert (r.n_tokens, r.n_distinct_tokens, r.feature_val) == (
            n_tok[b],
            len(toks[b]),
            sgn[b],
        )


def test_class_weights_match_naive(run, tables):
    got = {r.label: r for r in run("ml_class_weights").itertuples()}
    counts = tables["embeddings"]["label"].value_counts().to_dict()
    tot, k = sum(counts.values()), len(counts)
    assert set(got) == set(counts)
    for lbl, n in counts.items():
        r = got[lbl]
        assert (r.n_vectors, r.weight_ppm) == (n, tot * 1_000_000 // (k * n))


def test_twap_matches_naive(run, tables):
    got = {r.user_id: r for r in run("window_time_weighted_avg").itertuples()}
    ev = tables["events"].copy()
    ev["us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    ev["cents"] = ev["value"].map(lambda v: rnd(v * 100))
    expected = {}
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["us", "event_id"])
        us, cents = g["us"].tolist(), g["cents"].tolist()
        num = den = n_int = 0
        for i in range(len(us) - 1):
            dt = us[i + 1] - us[i]
            if dt > 0:
                num += int(cents[i]) * dt
                den += dt
                n_int += 1
        if den:
            expected[uid] = (n_int, den, num // den)
    assert set(got) == set(expected)
    for uid, (n_int, den, twap) in expected.items():
        r = got[uid]
        assert (r.n_intervals, r.total_dt_us, r.twap_cents) == (n_int, den, twap)


def test_weighted_median_matches_naive(run, tables):
    row = run("agg_weighted_median_twopass").iloc[0]
    li = tables["lineitem"]
    vals = sorted(
        zip(
            li["l_extendedprice"].map(lambda v: rnd(v * 100)),
            li["l_quantity"].map(rnd),
        )
    )
    total = sum(w for _, w in vals)
    run_w = 0
    med = None
    for c, w in vals:
        run_w += w
        if 2 * run_w >= total:
            med = c
            break
    assert (row.n_items, row.total_weight, row.weighted_median_cents) == (
        len(vals),
        total,
        med,
    )


def test_journey_paths_match_naive(run, tables):
    got = [
        (r.path, r.n_occurrences, r.n_users)
        for r in run("events_user_journey_paths").itertuples()
    ]
    from collections import defaultdict

    occ = defaultdict(int)
    users = defaultdict(set)
    ev = tables["events"]
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        types = g["event_type"].tolist()
        for i in range(len(types) - 2):
            p = ">".join(types[i : i + 3])
            occ[p] += 1
            users[p].add(uid)
    expected = sorted(
        ((p, occ[p], len(users[p])) for p in occ),
        key=lambda t: (-t[1], t[0]),
    )[:20]
    assert got == expected


def test_drift_psi_matches_naive(run, tables):
    got = {r.bucket: r for r in run("validate_drift_psi").itertuples()}
    o = tables["orders"]
    ref = {}
    cur = {}
    for r in o.itertuples():
        b = min(rnd(r.o_totalprice * 100) * 10 // 60_000_000, 9)
        era = cur if str(r.o_orderdate) >= "1996-01-01" else ref
        era[b] = era.get(b, 0) + 1
    buckets = set(ref) | set(cur)
    tr, tc, nb = sum(ref.values()), sum(cur.values()), len(buckets)
    assert set(got) == buckets
    for b in buckets:
        nr, nc = ref.get(b, 0), cur.get(b, 0)
        pr, pc = (nr + 1) / (tr + nb), (nc + 1) / (tc + nb)
        r = got[b]
        assert (r.n_ref, r.n_cur) == (nr, nc)
        assert r.psi_nano == math.floor((pc - pr) * math.log(pc / pr) * 1e9)


def test_time_to_convert_matches_naive(run, tables):
    row = run("events_time_to_convert").iloc[0]
    ev = tables["events"].copy()
    ev["us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    deltas = []
    n_viewers = 0
    for uid, g in ev.groupby("user_id"):
        views = g[g["event_type"] == "view"]["us"]
        if views.empty:
            continue
        n_viewers += 1
        fv = int(views.min())
        purchases = g[(g["event_type"] == "purchase") & (g["us"] >= fv)]["us"]
        if not purchases.empty:
            deltas.append((int(purchases.min()) - fv) // 1_000_000)
    deltas.sort()
    n = len(deltas)
    lo, hi = (n + 1) // 2, (n + 2) // 2
    med2 = deltas[lo - 1] + deltas[hi - 1]  # == 2x median for odd n
    assert (row.n_viewers, row.n_converters, row.conversion_ppm) == (
        n_viewers,
        n,
        n * 1_000_000 // n_viewers,
    )
    assert row.median_2x_delta_s == med2


def test_ngram_novelty_matches_hashlib(run, tables):
    got = {r.source: r for r in run("curate_ngram_novelty").itertuples()}
    from collections import defaultdict

    occ = []  # (source, hash)
    counts = defaultdict(int)
    for r in tables["documents"].itertuples():
        words = [t for t in r.text.split(" ") if t]
        for i in range(len(words) - 7):
            h = hashlib.md5(" ".join(words[i : i + 8]).encode()).hexdigest()
            occ.append((r.source, h))
            counts[h] += 1
    per_src = defaultdict(lambda: [0, 0])
    for src, h in occ:
        per_src[src][0] += 1
        per_src[src][1] += counts[h] == 1
    assert set(got) == set(per_src)
    for src, (n, u) in per_src.items():
        r = got[src]
        assert (r.n_shingles, r.n_unique, r.novelty_ppm) == (
            n,
            u,
            u * 1_000_000 // n,
        )


def test_batch_diversity_matches_numpy(run, tables):
    row = run("sim_batch_diversity").iloc[0]
    emb = tables["embeddings"]
    ordered = sorted(
        (hashlib.md5(str(int(v)).encode()).hexdigest(), int(v))
        for v in emb["vec_id"]
    )[:32]
    chosen = {v for _, v in ordered}
    vecs = {
        int(r.vec_id): [rnd(float(x) * 1000) for x in r.embedding]
        for r in emb.itertuples()
        if int(r.vec_id) in chosen
    }
    cos = []
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            va, vb = vecs[a], vecs[b]
            dot = sum(x * y for x, y in zip(va, vb))
            na = sum(x * x for x in va)
            nb = sum(y * y for y in vb)
            if na > 0 and nb > 0:
                cos.append(math.floor(dot / math.sqrt(na * nb) * 1e6))
    assert (row.n_pairs, row.sum_cos_micro, row.min_cos_micro, row.max_cos_micro) == (
        len(cos),
        sum(cos),
        min(cos),
        max(cos),
    )


def test_heaps_law_matches_naive(run, tables):
    got = {
        r.decile: (r.cum_docs, r.cum_tokens, r.cum_vocab)
        for r in run("text_heaps_law").itertuples()
    }
    docs = tables["documents"]
    lo = int(docs["doc_id"].min())
    hi = int(docs["doc_id"].max()) + 1
    first = {}
    nd = [0] * 10
    nt = [0] * 10
    for r in docs.itertuples():
        b = min((int(r.doc_id) - lo) * 10 // (hi - lo), 9)
        words = [t for t in r.text.split(" ") if t]
        nd[b] += 1
        nt[b] += len(words)
        for t in words:
            if t not in first or first[t] > b:
                first[t] = b
    nv = [0] * 10
    for b in first.values():
        nv[b] += 1
    cum_d = cum_t = cum_v = 0
    expected = {}  # only deciles holding at least one doc emit a row
    for b in range(10):
        cum_d += nd[b]
        cum_t += nt[b]
        cum_v += nv[b]
        if nd[b]:
            expected[b] = (cum_d, cum_t, cum_v)
    assert got == expected


def test_centroid_drift_matches_numpy(run, tables):
    got = {r.label: r for r in run("embed_centroid_drift").itertuples()}
    from collections import defaultdict

    sums = defaultdict(lambda: [0] * 64)
    ns = defaultdict(int)
    gsum = [0] * 64
    gn = 0
    for r in tables["embeddings"].itertuples():
        q = [rnd(float(x) * 1000) for x in r.embedding]
        lbl = int(r.label)
        ns[lbl] += 1
        gn += 1
        for i, v in enumerate(q):
            sums[lbl][i] += v
            gsum[i] += v
    assert set(got) == set(ns)
    for lbl in ns:
        diffs = [
            sums[lbl][i] / ns[lbl] - gsum[i] / gn for i in range(64)
        ]
        drift = math.floor(math.sqrt(sum(d * d for d in diffs)))
        r = got[lbl]
        assert (r.n_vectors, r.drift_milli) == (ns[lbl], drift)


def test_bootstrap_ci_matches_hashlib(run, tables):
    row = run("agg_bootstrap_ci_poisson").iloc[0]
    o = tables["orders"]
    o = o.assign(cents=o["o_totalprice"].map(lambda v: rnd(v * 100)))
    spend = o.groupby("o_custkey")["cents"].sum().astype(int)
    T = [6172840, 12345680, 15430100, 16458567, 16715718, 16767148]

    def pois(u):
        for k, t in enumerate(T):
            if u < t:
                return k
        return 6

    B, PER = 60, 5
    ns = [0] * B
    ss = [0] * B
    for ck, cents in spend.items():
        for j in range(12):
            h = hashlib.md5(f"{int(ck)}:{j}".encode()).hexdigest()
            for k in range(PER):
                b = j * PER + k
                m = pois(int(h[k * 6 : k * 6 + 6], 16))
                ns[b] += m
                ss[b] += m * int(cents)
    mus = sorted(
        (ss[b] / ns[b], b) for b in range(B) if ns[b] > 0
    )
    nb = len(mus)
    lo_idx = max(nb * 5 // 100, 1) - 1
    hi_idx = min(nb * 95 // 100 + 1, nb) - 1
    assert row.n_resamples == nb
    assert row.boot_mean_cents == sum(
        math.floor(mu) for mu, _ in mus
    ) // nb
    assert row.ci_lo_cents == math.floor(mus[lo_idx][0])
    assert row.ci_hi_cents == math.floor(mus[hi_idx][0])


def test_cusum_changepoint_matches_naive(run, tables):
    got = {r.event_type: r for r in run("window_cusum_changepoint").itertuples()}
    ev = tables["events"].copy()
    ev["us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    ev["d"] = ev["us"] // 86_400_000_000
    expected = {}
    for et, g in ev.groupby("event_type"):
        daily = g.groupby("d").size().sort_index()
        xs = daily.tolist()
        ds = daily.index.tolist()
        n, total = len(xs), sum(xs)
        prefix = 0
        best = None
        for t, (d, x) in enumerate(zip(ds, xs), start=1):
            prefix += x
            c = n * prefix - t * total
            key = (-abs(c), d)
            if best is None or key < best[0]:
                best = (key, d, abs(c))
        expected[et] = (n, best[1], best[2], best[2] * 1000 // n)
    assert set(got) == set(expected)
    for et, (n, d, mc, dev) in expected.items():
        r = got[et]
        assert (r.n_days, r.changepoint_day, r.max_abs_cusum_n,
                r.deviation_milli) == (n, d, mc, dev)


def test_multitouch_attribution_matches_naive(run, tables):
    got = {r.channel: r for r in run("events_multitouch_attribution").itertuples()}
    ev = tables["events"].copy()
    ev["us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    from collections import defaultdict

    stats = defaultdict(lambda: [0, 0, 0, 0])  # touches, first, last, linear
    W = 24 * 3600 * 1_000_000
    for uid, g in ev.groupby("user_id"):
        touches = g[g["event_type"].isin(["view", "click", "signup"])]
        for p in g[g["event_type"] == "purchase"].itertuples():
            w = touches[(touches["us"] < p.us) & (touches["us"] >= p.us - W)]
            if w.empty:
                continue
            w = w.sort_values(["us", "event_id"])
            rows = list(w.itertuples())
            nt = len(rows)
            for r in rows:
                stats[r.event_type][0] += 1
                stats[r.event_type][3] += 1000 // nt
            stats[rows[0].event_type][1] += 1000
            stats[rows[-1].event_type][2] += 1000
    assert set(got) == set(stats)
    for ch, (nt, ft, lt, lin) in stats.items():
        r = got[ch]
        assert (r.n_touches, r.first_touch_milli, r.last_touch_milli,
                r.linear_milli) == (nt, ft, lt, lin)


def test_kaplan_meier_matches_naive(run, tables):
    got = {r.day: r for r in run("agg_survival_kaplan_meier").itertuples()}
    ev = tables["events"].copy()
    ev["us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    durs = []
    for uid, g in ev.groupby("user_id"):
        start = int(g["us"].min())
        errs = g[g["event_type"] == "error"]["us"]
        if errs.empty:
            durs.append(((int(g["us"].max()) - start) // 86_400_000_000, False))
        else:
            durs.append(((int(errs.min()) - start) // 86_400_000_000, True))
    from collections import Counter

    exits = Counter(d for d, _ in durs)
    events = Counter(d for d, f in durs if f)
    total = len(durs)
    # mirror the declared contract exactly: exp of the ordered ln-sum,
    # not a sequential float product (last-ulp differences could flip
    # the micro floor)
    ln_sum = 0.0
    wiped = False
    exited = 0
    expected = {}
    for day in sorted(exits):
        n = total - exited
        ev_d = events.get(day, 0)
        if ev_d > 0:
            if ev_d >= n:
                wiped = True
            else:
                ln_sum += math.log(1.0 - float(ev_d) / n)
            s = 0.0 if wiped else math.exp(ln_sum)
            expected[day] = (n, ev_d, math.floor(s * 1e6))
        exited += exits[day]
    assert set(got) == set(expected)
    for day, (n, d, s) in expected.items():
        r = got[day]
        assert (r.n_risk, r.n_events, r.survival_micro) == (n, d, s)


def test_mann_whitney_matches_scipy_free_naive(run, tables):
    row = run("agg_mann_whitney_u").iloc[0]
    ev = tables["events"]
    ev = ev[ev["event_type"] == "purchase"]
    arms = {0: [], 1: []}
    for r in ev.itertuples():
        arms[int(r.user_id) % 2].append(rnd(r.value * 100))
    allv = sorted(arms[0] + arms[1])
    n0, n1 = len(arms[0]), len(arms[1])
    # midrank per distinct value, doubled to stay integral
    from collections import Counter

    cnt = Counter(allv)
    before = 0
    rank2 = {}
    tie3 = 0
    for v in sorted(cnt):
        c = cnt[v]
        rank2[v] = 2 * (before + 1) + c - 1
        tie3 += c * c * c - c
        before += c
    r0x2 = sum(rank2[v] for v in arms[0])
    u_a_x2 = r0x2 - n0 * (n0 + 1)
    n = n0 + n1
    z = (u_a_x2 / 2 - n0 * n1 / 2) / math.sqrt(
        n0 * n1 / 12 * ((n + 1) - tie3 / (n * (n - 1)))
    )
    assert (row.n_a, row.n_b, row.rank_sum_a_x2, row.u_a_x2) == (
        n0,
        n1,
        r0x2,
        u_a_x2,
    )
    assert row.z_milli == math.floor(z * 1000)


def test_rfm_segmentation_matches_naive(run, tables):
    got = {r.segment: (r.n_users, r.segment_cents)
           for r in run("events_rfm_segmentation").itertuples()}
    ev = tables["events"]
    ev = ev[ev["event_type"] == "purchase"].copy()
    ev["us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    ev["cents"] = ev["value"].map(lambda v: rnd(v * 100))
    pu = ev.groupby("user_id").agg(
        last_us=("us", "max"), freq=("us", "size"), m_cents=("cents", "sum")
    )
    n = len(pu)

    def quint(series):
        order = sorted(zip(series.tolist(), series.index.tolist()))
        return {
            uid: (rank * 5) // n + 1
            for rank, (_, uid) in enumerate(order)
        }

    rq, fq, mq = quint(pu["last_us"]), quint(pu["freq"]), quint(pu["m_cents"])
    from collections import defaultdict

    expected = defaultdict(lambda: [0, 0])
    for uid, row in pu.iterrows():
        seg = f"R{rq[uid]}F{fq[uid]}M{mq[uid]}"
        expected[seg][0] += 1
        expected[seg][1] += int(row.m_cents)
    assert got == {s: tuple(v) for s, v in expected.items()}


def test_pareto_abc_matches_naive(run, tables):
    got = {r.abc_class: (r.n_parts, r.class_cents, r.revenue_share_ppm)
           for r in run("agg_pareto_abc").itertuples()}
    li = tables["lineitem"].copy()
    li["rev"] = [
        rnd(p * (1 - d) * 100)
        for p, d in zip(li["l_extendedprice"], li["l_discount"])
    ]
    pp = li.groupby("l_partkey")["rev"].sum().astype(int)
    lo, hi, total = int(pp.min()), int(pp.max()), int(pp.sum())
    width = max((hi - lo) // 1024 + 1, 1)
    from collections import Counter

    hist = Counter()
    for rev in pp:
        hist[(int(rev) - lo) // width] += int(rev)
    cuts = [total * 80 // 100, total * 95 // 100]
    th, run_w, ci = [], 0, 0
    for b in sorted(hist, reverse=True):
        run_w += hist[b]
        while ci < len(cuts) and run_w >= cuts[ci]:
            th.append(lo + b * width)
            ci += 1
    while len(th) < 2:
        th.append(lo)
    t_a, t_b = th
    expected = {}
    for cls, sel in (
        ("A", pp[pp >= t_a]),
        ("B", pp[(pp >= t_b) & (pp < t_a)]),
        ("C", pp[pp < t_b]),
    ):
        if len(sel):
            s = int(sel.sum())
            expected[cls] = (len(sel), s, s * 1_000_000 // total)
    assert got == expected


def test_max_drawdown_matches_naive(run, tables):
    got = [
        (r.user_id, r.n_events, r.max_drawdown_cents)
        for r in run("window_max_drawdown").itertuples()
    ]
    ev = tables["events"].copy()
    ev["us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    ev["cents"] = ev["value"].map(lambda v: rnd(v * 100))
    per_user = []
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["us", "event_id"])
        cum = peak = 0
        dd = 0
        for c in g["cents"]:
            cum += int(c)
            peak = max(peak, cum)
            dd = max(dd, peak - cum)
        per_user.append((int(uid), len(g), dd))
    expected = sorted(per_user, key=lambda t: (-t[2], t[0]))[:20]
    assert got == [(u, n, d) for u, n, d in expected]


def test_spearman_matches_naive(run, tables):
    row = run("agg_spearman_rho").iloc[0]
    li = tables["lineitem"]
    xs = [rnd(q) for q in li["l_quantity"]]
    ys = [rnd(p * 100) for p in li["l_extendedprice"]]
    from collections import Counter

    def midrank2(vals):
        cnt = Counter(vals)
        out = {}
        before = 0
        for v in sorted(cnt):
            out[v] = 2 * (before + 1) + cnt[v] - 1
            before += cnt[v]
        return out

    mx, my = midrank2(xs), midrank2(ys)
    a = [mx[v] for v in xs]
    b = [my[v] for v in ys]
    n = len(a)
    sa, sb = sum(a), sum(b)
    saa = sum(v * v for v in a)
    sbb = sum(v * v for v in b)
    sab = sum(u * v for u, v in zip(a, b))
    rho = float(n * sab - sa * sb) / math.sqrt(
        float(n * saa - sa * sa) * float(n * sbb - sb * sb)
    )
    assert row.n_items == n
    assert row.spearman_rho_micro == math.floor(rho * 1e6)
