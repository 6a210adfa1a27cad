"""Repo-wide physical-plan budgets: every non-streaming query's plan
metrics (parquet FileScans, Python stages, single-partition
exchanges) must match the checked-in `plan_budgets.json` — the
mechanized, whole-registry version of the curated audits in
`test_physical_plans.py`. A silent plan regression (a new Python
stage in a hot path, a CTE re-derivation doubling scans, an
accidental global window) fails here even for queries nobody wrote a
bespoke pin for.

The metrics are taken from the PRE-EXECUTION plan string, so for
iterative operators (label propagation, PageRank, power iteration)
they count the full unexecuted lineage, not runtime work — the
runtime truncation via persist/localCheckpoint is pinned separately.
That is deliberate: the numbers are large but STABLE (verified
identical across independent generation passes), which is exactly
what a regression budget needs.

On a deliberate plan change, regenerate with:
    python tools/plan_budgets.py --write
"""

from __future__ import annotations

import json
import os
import sys

import pytest

from tests.conftest import SF_SMOKE, needs_boat_reference

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

_BUDGETS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "plan_budgets.json")

with open(_BUDGETS) as _f:
    BUDGETS: dict[str, dict] = json.load(_f)


def test_every_nonstreaming_query_is_budgeted():
    import __spark_entry__ as entry

    expected = {n for n in entry.queries() if not n.startswith("stream_")}
    missing = expected - set(BUDGETS)
    extra = set(BUDGETS) - expected
    assert not missing, f"queries without a plan budget: {sorted(missing)}"
    assert not extra, f"budgets for unknown queries: {sorted(extra)}"


@pytest.mark.parametrize("name", needs_boat_reference(sorted(BUDGETS)))
def test_plan_matches_budget(spark, name):
    import __spark_entry__ as entry
    from boat_etl_pyspark_spark.cache import release_caches
    from tools.plan_budgets import plan_metrics

    release_caches(spark)
    try:
        got = plan_metrics(entry.queries()[name](spark, SF_SMOKE))
    finally:
        release_caches(spark)
    assert got == BUDGETS[name], (
        f"{name}: plan metrics drifted (got {got}, budget {BUDGETS[name]}); "
        "if the change is deliberate, regenerate with "
        "`python tools/plan_budgets.py --write`"
    )


def test_write_keeps_entries_of_skipped_queries(monkeypatch):
    """``--write`` on a host without the boat reference CSV skips the
    boat queries, as ``needs_boat_reference`` does, and keeps their
    existing entries; every measured entry replaces its old value."""
    from boat_etl_pyspark_spark.plans import boat_plan
    from tools.plan_budgets import merge_budgets, skipped_queries

    monkeypatch.setattr(boat_plan, "_INPUT", "/nonexistent/boat_data.csv")
    assert skipped_queries() == set(boat_plan.QUERIES)
    monkeypatch.setattr(boat_plan, "_INPUT", _BUDGETS)
    assert skipped_queries() == set()

    old = {"a": {"scans": 1}, "boat": {"scans": 2}, "gone": {"scans": 3}}
    new = {"b": {"scans": 4}, "a": {"scans": 5}}
    assert merge_budgets(new, old, {"boat", "missing"}) == {
        "a": {"scans": 5},
        "b": {"scans": 4},
        "boat": {"scans": 2},
    }


def test_scans_count_only_the_final_plan(spark):
    """``dedup_minhash_lsh`` reads the cached pair table, whose stored
    plan reads the band table and the shingle sets, each cached with
    both its final and its initial adaptive plan. Spark prints a
    nested plan's ``== Initial Plan ==`` marker at an indent unrelated
    to the plan's depth, so an indent rule over the printed string
    dropped real final-plan subtrees (the band probe side and the
    doc_a broadcast) and counted 3. The final plan reads the shingle
    cache four times (band build side, band probe side, doc_a and
    doc_b broadcasts), each through its one parquet scan."""
    import __spark_entry__ as entry
    from boat_etl_pyspark_spark.cache import release_caches
    from tools.plan_budgets import _node_lines, plan_metrics

    release_caches(spark)
    try:
        df = entry.queries()["dedup_minhash_lsh"](spark, SF_SMOKE)
        lines = [
            line
            for line in _node_lines(df._jdf.queryExecution().executedPlan())
            if line != "InputAdapter"
        ]
        assert plan_metrics(df)["scans"] == 4
    finally:
        release_caches(spark)
    # every scan here sits in an executed cached plan, where a parquet
    # scan feeds a ColumnarToRow; an initial plan's scans do not, so
    # none of those was walked
    scans = [i for i, line in enumerate(lines) if line.startswith("FileScan parquet")]
    assert len(scans) == 4
    assert all(lines[i - 1] == "ColumnarToRow" for i in scans)
