"""Driver-contract hygiene: guards against registry/doc drift that
the per-query oracle tests can't see."""

from __future__ import annotations

import ast
import os
import re

import __spark_entry__ as M

_COV = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")


def test_every_query_has_an_oracle():
    qs, osql = set(M.queries()), set(M.oracle_sql())
    assert qs == osql, (
        f"queries without oracle: {sorted(qs - osql)}; "
        f"oracles without query: {sorted(osql - qs)}"
    )


def test_coverage_doc_matches_registry():
    cov = open(_COV).read()
    qs = set(M.queries())
    missing = sorted(q for q in qs if q not in cov)
    assert not missing, f"queries not documented in COVERAGE.md: {missing}"
    # names that look like query identifiers but aren't registered
    prefixes = (
        "q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9",
        "agg_", "join_", "window_", "text_", "dedup_", "sim_", "stream_",
        "curate_", "date_", "json_", "map_", "sort_", "union_", "setops_",
        "pivot_", "subquery_", "multimodal_", "events_", "cohort_",
        "string_", "unpivot_",
    )
    mentioned = set(re.findall(r"`([a-z0-9_]+)`", cov))
    ghosts = sorted(
        m for m in mentioned
        if m.startswith(prefixes) and "." not in m and m not in qs
    )
    assert not ghosts, f"COVERAGE.md mentions unregistered queries: {ghosts}"


def test_declared_count_is_current():
    cov = open(_COV).read()
    m = re.search(r"All (\d+) `queries\(\)` entries", cov)
    assert m, "COVERAGE.md should state the total query count"
    assert int(m.group(1)) == len(M.queries()), (
        f"COVERAGE.md says {m.group(1)} queries, registry has {len(M.queries())}"
    )


def test_oracle_position_cap_dominates_fixture():
    """Several DuckDB oracles enumerate token positions via a
    range(1, 600) cap (DuckDB lacks Spark's lazy sequence-over-size).
    If a regenerated fixture ever shipped a document with >= 600
    tokens the oracles would silently truncate and hash-mismatch —
    fail loudly here instead, with 2x headroom demanded."""
    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        mx = con.sql(
            "SELECT MAX(len(list_filter(string_split(text, ' '),"
            f" x -> x <> ''))) FROM '/root/testdata/{sf}/documents.parquet'"
        ).fetchone()[0]
        assert mx * 2 < 600, f"{sf}: max tokens {mx} too close to the cap"
        # the SemDeDup / kmeans / gram oracles enumerate embedding
        # positions via range(1, 65): a regenerated fixture with a
        # different dimensionality would silently truncate (SUM skips
        # the NULLs past the end) — fail loudly instead
        dims = con.sql(
            "SELECT MIN(len(embedding)), MAX(len(embedding)) FROM"
            f" '/root/testdata/{sf}/embeddings.parquet'"
        ).fetchone()
        assert dims == (64, 64), f"{sf}: embedding dims drifted: {dims}"


def test_no_row_at_a_time_python_udfs():
    """The package must not contain a single row-at-a-time Python UDF
    (`F.udf` / `@udf`) — Arrow-vectorized pandas UDFs and the
    mapInPandas/cogroup plumbing are the only sanctioned Python
    entry points (README design rules)."""
    import subprocess

    pkg = os.path.join(os.path.dirname(_COV), "boat_etl_pyspark_spark")
    out = subprocess.run(
        ["grep", "-rnE",
         r"F\.udf\(|@udf|udf\.register|(^|[ (,=])udf\(",
         pkg, "--include=*.py"],
        capture_output=True, text=True,
    )
    # grep: 0 = matches found, 1 = none, 2 = error (e.g. bad path) —
    # an errored grep must not read as a clean pass
    assert out.returncode == 1, (
        f"rc={out.returncode}; row-at-a-time UDFs found:\n{out.stdout}"
        f"{out.stderr}"
    )


# Every sanctioned driver-side .collect() site, by file and enclosing
# function: all are bounded scalars or tiny (<= 1024-row) relations,
# each commented at the call site. A NEW collect anywhere — or an extra
# one in these functions — fails this test and forces the boundedness
# review; keying by function keeps two budgets from pooling when
# modules merge.
_COLLECT_ALLOWLIST = {
    "plans/join.py::join_bloom_prefilter": 1,      # 1024-word bloom bitmap pull
    "plans/stream.py::stream_stream_left_outer": 1,  # stream max-timestamp scalar
    "plans/stream.py::stream_stream_full_outer": 1,  # stream max-timestamp scalar
    "plans/agg.py::agg_weighted_median_twopass": 2,  # histogram lo/hi/total + <=1024 buckets
    "plans/io.py::io_binary_manifest": 1,          # one-row file-manifest summary
    "plans/agg.py::agg_pareto_abc": 2,             # quantile lo/hi/total + <=1024 buckets
    "plans/sim.py::sim_blocked_matmul_topk": 1,    # bounded query-vector pull (_MM_NQ)
    "plans/sim.py::sim_mmr_diverse_topk": 2,       # MMR cands (16) + pair matrix (240)
    "plans/graph.py::graph_pagerank_nations": 1,   # nation-graph edges (<= 25^2 rows)
    "plans/ml.py::embed_pca_power": 1,             # gram upper triangle (136 rows)
    "plans/graph.py::graph_bfs_reachability": 1,   # nation-graph edges (<= 25^2 rows)
    "plans/graph.py::graph_connected_components": 2,  # nation-graph edges + nation dim
    "plans/events.py::events_markov_stationary": 1,  # event-type transitions (<= |alphabet|^2)
    "plans/ml.py::ml_gbdt_boosted_stumps": 1,      # gbdt histogram (<= 64 bins)
    "plans/ml.py::ml_learning_curve": 1,           # learning-curve histogram (<= 64 bins)
    "plans/agg.py::agg_theils_u": 1,               # theil contingency cells (enum alphabet^2)
    "operators/skew.py::skew_profile": 1,          # diagnostics-only sampler
    "pipeline/boat.py::transform": 1,              # min-year scalar
    "pipeline/boat.py::assert_valid": 1,           # validation row
    "plans/agg.py::agg_fisher_exact": 1,           # Fisher 2x2 counts (one 4-int row)
}


def _call_sites(pkg: str, matches) -> dict[str, int]:
    """``file::enclosing function`` -> number of calls whose ``func``
    node satisfies ``matches`` (``<module>`` for calls outside any
    function)."""
    found: dict[str, int] = {}

    def visit(node, rel, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, rel, child.name)
                continue
            if isinstance(child, ast.Call) and matches(child.func):
                key = f"{rel}::{fn}"
                found[key] = found.get(key, 0) + 1
            visit(child, rel, fn)

    for root, _dirs, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read())
                visit(tree, os.path.relpath(path, pkg), "<module>")
    return found


_PKG = os.path.join(os.path.dirname(_COV), "boat_etl_pyspark_spark")


def test_collect_sites_are_allowlisted():
    found = _call_sites(
        _PKG, lambda f: isinstance(f, ast.Attribute) and f.attr == "collect"
    )
    assert found == _COLLECT_ALLOWLIST, (
        f"collect sites drifted: {found} vs allowlist {_COLLECT_ALLOWLIST}"
    )


# Every ``.persist()`` / ``.cache()`` outside ``cache.py``, which owns the
# one cache lifecycle: a persist taken anywhere else is never released
# by ``release_caches`` and pins executor storage for the session.
_PERSIST_ALLOWLIST = {
    # the edge list, unpersisted by the function itself once the
    # loop-width copy (a track_persist) is materialized
    "plans/textdedup.py::_dedup_clusters_build": 1,
}


def test_persists_go_through_cache():
    found = {
        site: n
        for site, n in _call_sites(
            _PKG,
            lambda f: isinstance(f, ast.Attribute)
            and f.attr in ("persist", "cache"),
        ).items()
        if not site.startswith("cache.py::")
    }
    assert found == _PERSIST_ALLOWLIST, (
        f"persist sites drifted: {found} vs allowlist {_PERSIST_ALLOWLIST}"
    )


# Every temp-view registration outside ``plans/__init__.py::bind_sql``,
# the one SQL binder. A hand-named view is session-global and unique
# only by convention; a plan hands its relations to SQL through
# ``bind_sql`` instead.
_TEMP_VIEW_ALLOWLIST: dict[str, int] = {}


def test_sql_bindings_go_through_bind_sql():
    views = (
        "createOrReplaceTempView", "createTempView",
        "createGlobalTempView", "createOrReplaceGlobalTempView",
    )
    found = _call_sites(
        _PKG, lambda f: isinstance(f, ast.Attribute) and f.attr in views
    )
    assert found.pop("plans/__init__.py::bind_sql", 0) == 1
    assert found == _TEMP_VIEW_ALLOWLIST, (
        f"temp-view sites drifted: {found} vs allowlist {_TEMP_VIEW_ALLOWLIST}"
    )


# Every schema-inferring ``<session>.read.parquet(...)`` call outside
# ``sources/readers.py``, which memoizes the inferred schema per file
# version. Each of these reads back a path its own query has just
# written, so the memo has nothing to reuse; a new direct read of a
# fixture table would re-infer its footer on every call, and fails here.
_PARQUET_READ_ALLOWLIST = {
    "plans/io.py::io_small_file_compaction": 2,  # fragments + compacted output
    "plans/io.py::io_codec_tradeoff": 1,         # each codec's output
    "plans/io.py::io_binary_manifest": 1,        # the written manifest
}


def test_parquet_reads_go_through_load_table():
    def matches(f):
        return (
            isinstance(f, ast.Attribute)
            and f.attr == "parquet"
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "read"
        )

    found = {
        site: n
        for site, n in _call_sites(_PKG, matches).items()
        if not site.startswith("sources/readers.py::")
    }
    assert found == _PARQUET_READ_ALLOWLIST, (
        f"parquet read sites drifted: {found} vs allowlist "
        f"{_PARQUET_READ_ALLOWLIST}"
    )


def test_check_first_matches_rotation_tool():
    """``_CHECK_FIRST`` is GENERATED, not hand-maintained (round-5
    verdict item 3): it must equal tools/rotation.py's computation
    from the CORRECTNESS_r*.json history, so a typo can never silently
    mis-rotate a round's 50-query driver window."""
    import importlib.util

    path = os.path.join(os.path.dirname(_COV), "tools", "rotation.py")
    spec = importlib.util.spec_from_file_location("rotation", path)
    rot = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rot)
    # pin against the BASIS rounds the list was generated from, so a
    # new round's CORRECTNESS file landing on disk doesn't redden the
    # pin before the round-start regeneration ritual runs; likewise
    # pin against the changed-since-green set AS OF PIN TIME
    # (_CHECK_FIRST_CHANGED_BASIS) — the window is pinned at round
    # start before the round's edits (round-8 verdict item 7), so
    # mid-round edits promote into the NEXT round's window instead of
    # retroactively rewriting (and reddening) this one
    expected = rot.compute_check_first(
        names=list(M._RAW_QUERIES),
        rounds=M._CHECK_FIRST_BASIS,
        changed_set=set(M._CHECK_FIRST_CHANGED_BASIS),
    )
    assert M._CHECK_FIRST == expected, (
        "regenerate with: python tools/rotation.py --python\n"
        f"missing from _CHECK_FIRST: {[n for n in expected if n not in M._CHECK_FIRST]}\n"
        f"extra in _CHECK_FIRST: {[n for n in M._CHECK_FIRST if n not in expected]}"
    )
    assert len(M._CHECK_FIRST) == rot.WINDOW


def test_fingerprint_bank_covers_every_green():
    """The CHANGED_SINCE_GREEN set is MECHANIZED (round-6 verdict item
    3): tools/fingerprint_bank.json must hold one entry per
    driver-green query, banked at that query's LATEST green round
    within the _CHECK_FIRST_BASIS. A missing or out-of-date entry
    means the round-start ``python tools/fingerprints.py --bank``
    ritual was skipped — which is exactly the silent drift the bank
    exists to eliminate, so fail loudly here."""
    import importlib.util

    tools = os.path.join(os.path.dirname(_COV), "tools")
    mods = {}
    for stem in ("rotation", "fingerprints"):
        spec = importlib.util.spec_from_file_location(
            stem, os.path.join(tools, f"{stem}.py")
        )
        mods[stem] = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mods[stem])
    greens = mods["rotation"].latest_green(rounds=M._CHECK_FIRST_BASIS)
    bank = mods["fingerprints"].load_bank()
    # The bank may run AHEAD of the pinned basis mid-ritual (a new
    # round's greens absorbed before _CHECK_FIRST_BASIS is bumped) but
    # never behind it.
    stale = {
        n: (bank.get(n, {}).get("green"), rnd)
        for n, rnd in greens.items()
        if n not in bank or bank[n].get("green", 0) < rnd
    }
    assert not stale, (
        "bank out of date (run: python tools/fingerprints.py --bank) "
        f"for: {stale}"
    )
    unknown = set(bank) - set(M._RAW_QUERIES)
    assert not unknown, f"bank entries for unregistered queries: {unknown}"
    # A banked fingerprint, when present, must be a well-formed sha256;
    # null means "green predates the shipped source" and is the signal
    # that keeps the query in the changed-since-green window.
    for name, row in bank.items():
        assert row["fp"] is None or (
            isinstance(row["fp"], str) and len(row["fp"]) == 64
        ), f"malformed fingerprint for {name}: {row}"


def _load_tool(stem):
    import importlib.util

    path = os.path.join(os.path.dirname(_COV), "tools", f"{stem}.py")
    spec = importlib.util.spec_from_file_location(stem, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_spark_template_edit_flips_changed_since_green():
    """Round-7 verdict item 5: most plans render a module-level
    ``_X_SPARK`` template via ``spark.sql``, so an edit to the template
    alone changes neither the function source nor the oracle SQL — the
    fingerprint must cover it anyway, or a stale driver green survives
    a Spark-side-only bugfix undetected."""
    fp_mod = _load_tool("fingerprints")
    name = "dedup_simhash"
    fn = M._RAW_QUERIES[name]
    templates = fp_mod.referenced_templates(fn)
    assert templates, (
        f"{name} no longer references a module-level template; "
        "pick another template-rendered query for this test"
    )
    tmpl_name = templates[0].split("=", 1)[0]
    before = fp_mod.compute_fingerprints(M)[name]
    orig = fn.__globals__[tmpl_name]
    try:
        fn.__globals__[tmpl_name] = orig + "\n-- edited"
        after_fps = fp_mod.compute_fingerprints(M)
    finally:
        fn.__globals__[tmpl_name] = orig
    assert after_fps[name] != before
    # and the change lands in the rotation's changed-since-green set
    changed = fp_mod.changed_since_green(
        greens={name: 7},
        fingerprints=after_fps,
        bank={name: {"fp": before, "green": 7}},
    )
    assert name in changed
    # control: with the template restored the query is unchanged
    assert name not in fp_mod.changed_since_green(
        greens={name: 7},
        fingerprints={name: before},
        bank={name: {"fp": before, "green": 7}},
    )


def test_helper_function_edit_flips_changed_since_green():
    """Round-8 follow-up to the template gap: the round-7 ADVICE fix
    to ``stream_stateful_user_totals`` lived in a HELPER function
    (``streaming/events.py``) invisible to both the plan source and
    every template, and required a hand ``--promote``. Depth-1
    referenced-function hashing must promote that class automatically:
    swapping a referenced repo-local function for one with different
    source must change the query's fingerprint."""
    fp_mod = _load_tool("fingerprints")
    name = "stream_stateful_user_totals"
    fn = M._RAW_QUERIES[name]
    refs = fp_mod.referenced_functions(fn)
    helper_names = [r.split("=", 1)[0] for r in refs]
    assert "stateful_user_totals" in helper_names, helper_names
    before = fp_mod.compute_fingerprints(M)[name]

    def _stand_in_with_different_source(stream_df):
        return stream_df

    from boat_etl_pyspark_spark.streaming import events as ev_mod

    orig = ev_mod.stateful_user_totals
    _stand_in_with_different_source.__module__ = orig.__module__
    try:
        ev_mod.stateful_user_totals = _stand_in_with_different_source
        after = fp_mod.compute_fingerprints(M)[name]
    finally:
        ev_mod.stateful_user_totals = orig
    assert after != before
    # control: restored helper reproduces the original fingerprint
    assert fp_mod.compute_fingerprints(M)[name] == before


def test_rotation_red_rows_do_not_count_as_checked(tmp_path):
    """A red driver row (err, rows/schema mismatch, or hash_match
    False) must NOT register as a green check: the query stays at the
    front of the window until a green row lands, and a later red row
    must not erase an earlier green."""
    import json

    rot = _load_tool("rotation")
    r1 = {
        "ok_q": {"err": None, "rows_match": True, "schema_match": True,
                 "hash_match": True},
        "err_q": {"err": "boom", "rows_match": True, "schema_match": True,
                  "hash_match": True},
        "rows_q": {"err": None, "rows_match": False, "schema_match": True,
                   "hash_match": True},
        "hash_q": {"err": None, "rows_match": True, "schema_match": True,
                   "hash_match": False},
        "rows_only_q": {"err": None, "rows_match": True,
                        "schema_match": True, "hash_match": None},
    }
    r2 = {  # ok_q goes red later: the r1 green must survive
        "ok_q": {"err": "flake", "rows_match": False,
                 "schema_match": False, "hash_match": False},
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(r1))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(r2))
    greens = rot.latest_green(repo=str(tmp_path))
    assert greens == {"ok_q": 1, "rows_only_q": 1}
    assert rot.available_rounds(repo=str(tmp_path)) == (1, 2)


def test_fingerprint_migration_recognizes_only_older_era_hashes(tmp_path):
    """``--migrate`` must upgrade a banked hash to the current
    algorithm ONLY when it matches the on-disk content under some
    older algorithm version (proof the content is unchanged). A hash
    matching no version — a genuinely edited query, or an orphaned
    intermediate — must stay put, and null promotions must survive."""
    fp_mod = _load_tool("fingerprints")
    fps_now = fp_mod.compute_fingerprints(M)
    names = list(fps_now)[:4]
    v1 = fp_mod.compute_fingerprints(M, version=1)
    bank_path = str(tmp_path / "bank.json")
    fp_mod.save_bank(
        {
            names[0]: {"fp": v1[names[0]], "green": 5},   # v1 era: upgrade
            names[1]: {"fp": "0" * 64, "green": 5},       # unknown: keep
            names[2]: {"fp": None, "green": 5},           # promoted: keep
            names[3]: {"fp": fps_now[names[3]], "green": 7},  # current: keep
        },
        path=bank_path,
    )
    migrated = fp_mod.migrate_bank(path=bank_path)
    assert migrated == [names[0]]
    bank = fp_mod.load_bank(bank_path)
    assert bank[names[0]]["fp"] == fps_now[names[0]]
    assert bank[names[1]]["fp"] == "0" * 64
    assert bank[names[2]]["fp"] is None
    assert bank[names[3]]["fp"] == fps_now[names[3]]
    # and the kept-unknown / kept-null entries still read as changed
    changed = fp_mod.changed_since_green(
        greens={n: 5 for n in names}, fingerprints=fps_now, bank=bank
    )
    assert changed == {names[1], names[2]}


def test_rotation_changed_cap_prevents_starvation():
    """Round-7 verdict items 1-2: uncapped changed-first let a
    73-query hardening round fill the whole window with
    re-certifications and the never-checked backlog didn't shrink.
    The cap guarantees never-checked names at least WINDOW -
    CHANGED_CAP slots no matter how many queries a round edits, and
    overflow changed names still outrank plain stale greens."""
    rot = _load_tool("rotation")
    n_changed = rot.WINDOW + 10  # a hardening round bigger than the window
    changed = [f"chg_{i:03d}" for i in range(n_changed)]
    never = [f"new_{i:03d}" for i in range(rot.WINDOW)]
    stale = [f"old_{i:03d}" for i in range(5)]
    names = changed + never + stale
    greens = {n: 3 for n in changed}
    greens.update({n: 1 for n in stale})
    window = rot.compute_check_first(
        names=names,
        greens=greens,
        changed_set=set(changed),
    )
    assert len(window) == rot.WINDOW
    got_changed = [n for n in window if n.startswith("chg_")]
    got_never = [n for n in window if n.startswith("new_")]
    assert len(got_changed) == rot.CHANGED_CAP
    assert len(got_never) == rot.WINDOW - rot.CHANGED_CAP
    # with room to spare, overflow changed names come before stale greens
    window2 = rot.compute_check_first(
        names=names,
        greens=greens,
        changed_set=set(changed),
        window=n_changed + len(never) + len(stale),
    )
    assert list(window2[-len(stale):]) == stale  # stale last
    overflow = window2[rot.CHANGED_CAP + len(never) : -len(stale)]
    assert all(n.startswith("chg_") for n in overflow)
    # changed order is banked-green-round ascending (stalest first)
    mixed_greens = dict(greens)
    mixed_greens["chg_000"] = 6  # freshest green sorts last
    window3 = rot.compute_check_first(
        names=names,
        greens=mixed_greens,
        changed_set={"chg_000", "chg_001"},
        window=3,
    )
    assert list(window3[:2]) == ["chg_001", "chg_000"]


def test_null_docs_net_covers_the_tokenizing_net():
    """The NULL-documents parity net must cover every query in the
    degenerate-text (tokenizing) net: a future tokenizing query added
    to one list but not the other would reintroduce the
    incidentally-agreeing NULL-semantics gap the round-7 widening
    closed (it caught five divergences the 13-query net missed)."""
    from tests.test_degenerate_vectors import _NULL_DOC_QUERIES
    from tests.test_empty_inputs import _DEGENERATE_TEXT_QUERIES

    missing = set(_DEGENERATE_TEXT_QUERIES) - set(_NULL_DOC_QUERIES)
    assert not missing, (
        f"tokenizing queries absent from the NULL-docs net: {sorted(missing)}"
    )


def test_ingest_contract_fragments_are_symmetric():
    """Round-9 hostile-value classes: every fixed query must carry the
    contract module's validity fragment in BOTH engines, so the
    symmetric predicate can't silently drift apart (the whole point of
    contract.py is one source of truth; this pins the literal copies
    in templates that can't interpolate it)."""
    from boat_etl_pyspark_spark.plans import (
        contract,
        stream,
        text,
        window,
    )

    osql = M.oracle_sql()

    # class A — money-value domain (INT64 cents-overflow queries)
    assert contract.VALUE_DOMAIN_SQL == "value BETWEEN -1.0e12 AND 1.0e12"
    assert contract.VALUE_DOMAIN_DOLLARS == 1.0e12
    row_level = ("ml_calibration_bins", "ml_calibration_ece",
                 "ml_brier_decomposition")
    for name in row_level:
        assert contract.VALUE_DOMAIN_SQL in osql[name], name
    value_level = "value BETWEEN -1.0e12 AND 1.0e12"
    assert value_level in osql["interp_linear_fill"]
    for tpl in (window._ROLLREG_SPARK, window._ROLLREG_DUCK):
        assert value_level in tpl

    # class A' — TPC-H money floor sites (round-9 probe layer 1 + the
    # round-10 ADVICE fix): Spark's floor(double) returns LONG and
    # mints 0/Long.MAX for NaN/Inf BEFORE TRY_CAST can intervene, so
    # the domain CASE is REQUIRED before the floor, on BOTH sides.
    # Since round 10 every such site interpolates money_cents_sql /
    # money_cents from contract.py — no literal copies exist to drift.
    floor_sites = {
        "ml_gbdt_boosted_stumps": ("o_totalprice", 100),
        "ml_learning_curve": ("o_totalprice", 100),
        "agg_geometric_harmonic_means": ("o_totalprice", 100),
        "ml_decision_stump": ("o_totalprice", 100),
        "agg_durbin_watson": ("l_extendedprice", 100),
        "agg_anova_f": ("c_acctbal", 100),
        "agg_ks_test": ("l_extendedprice", 1),
    }
    for name, (col, scale) in floor_sites.items():
        assert contract.money_cents_sql(col, scale) in osql[name], name
    # no plan source carries a literal (un-interpolated) copy of the
    # TPC-H money-domain CASE — contract.py is the only source
    import glob as _glob
    import os as _os

    plans_dir = _os.path.dirname(contract.__file__)
    for path in _glob.glob(_os.path.join(plans_dir, "*.py")):
        if _os.path.basename(path) == "contract.py":
            continue
        src = open(path, encoding="utf-8").read()
        for col in ("o_totalprice", "l_extendedprice", "c_acctbal",
                    "s_acctbal", "p_retailprice"):
            assert f"CASE WHEN {col} BETWEEN" not in src, (
                f"literal money-domain CASE in {path} — interpolate "
                "contract.money_cents_sql/money_bounded_sql instead"
            )
    # the DataFrame twins are the same fragment via F.expr
    from boat_etl_pyspark_spark.plans import agg, ml

    assert agg.money_cents is contract.money_cents
    assert ml.money_cents is contract.money_cents

    # class B — embedding dims
    assert contract.EMB_DIMS == 64
    emb_queries = ("embed_kmeans_lloyd", "embed_gram_matrix",
                   "embed_pca_power", "curate_semdedup",
                   "sim_product_quantize", "sim_blocked_matmul_topk")
    for name in emb_queries:
        assert f"len(embedding) = {contract.EMB_DIMS}" in osql[name], name

    # class C — event-time validity window on the watermarked family
    ts_frag = contract.ts_valid_sql("ts")
    stream_queries = (
        "stream_session_windows", "stream_chained_agg",
        "stream_append_mode_windows", "stream_checkpoint_restart",
        "stream_dedup_within_watermark", "stream_late_data_audit",
        "stream_stream_left_outer", "stream_stream_full_outer",
    )
    for name in stream_queries:
        assert ts_frag in osql[name], name
    # the numpy/Arrow splitter bounds must equal the SQL literals
    import datetime

    for us, iso in ((contract.EV_TIME_LO_US, contract.EV_TIME_LO),
                    (contract.EV_TIME_HI_US, contract.EV_TIME_HI)):
        dt = datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=us
        )
        assert dt == datetime.datetime.fromisoformat(iso), iso

    # class D — text char-class filter + max token bound
    for name in ("io_csv_roundtrip", "io_xml_roundtrip",
                 "text_normalize_unicode"):
        assert contract.TEXT_VALID_DUCK in osql[name], name
    assert contract.TEXT_MAX_TOKEN == 512
    bound = f"BETWEEN 2 AND {contract.TEXT_MAX_TOKEN}"
    assert bound in text._BPE_SPARK
    assert bound in text._BPE_DUCK
    assert f"range(1, {contract.TEXT_MAX_TOKEN})" in text._BPE_DUCK

    # stream-stream cut proxy: both plans and both oracles derive the
    # watermark from the MIN of the two sides' per-type maxima
    for sql in (stream._SSLO_SQL, stream._SSFO_SQL):
        assert "LEAST(mp, mv)" in sql
        assert "mp IS NULL OR mv IS NULL" in sql
