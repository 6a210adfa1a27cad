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
    from boat_etl_pyspark_spark.plans import release_caches
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
