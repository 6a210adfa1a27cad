"""Generate (or print) the repo-wide physical-plan budget table.

For every non-streaming registry query, build its DataFrame at
sf0.001 and record the stable physical-plan metrics:

  * ``scans``  — ``FileScan parquet`` count (how many times base
    tables are read; the multi-referenced-CTE audit, mechanized),
  * ``python`` — Python-stage count (ArrowEvalPython / MapInPandas /
    FlatMapCoGroupsInPandas / BatchEvalPython — the UDF surface),
  * ``single_partition`` — ``Exchange SinglePartition`` count (every
    one must be justified by a bounded relation).

``tests/test_plan_budgets.py`` compares current plans against the
checked-in ``tests/plan_budgets.json``; a new query or a deliberate
plan change regenerates with:

    python tools/plan_budgets.py --write

Streaming queries are excluded (building them runs the stream; their
returned relation is a memory-sink scan with no plan to budget). The
boat pipeline queries are skipped where the reference CSV is missing,
as ``tests/test_plan_budgets.py`` skips them; ``--write`` keeps their
existing entries.
Queries whose metrics are unstable across cache states would churn
the file — caches are released before every build to pin one state.
"""

from __future__ import annotations

import json
import os
import re
import sys

SF = "/root/testdata/sf0.001"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "plan_budgets.json")

_PY_NODES = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandas",
    "BatchEvalPython",
)


def _node_lines(plan):
    """The one-line description of every node of the final physical
    plan, as ``executedPlan().toString()`` prints it, minus every
    ``== Initial Plan ==`` section. Session-shared caches are
    materialized eagerly (cache.shared), so their stored subplans hold
    BOTH the final and the initial AQE plan; only the final (actually
    executed) shape is budgeted.

    The JVM tree is walked, not the printed string: Spark prints a
    nested adaptive plan's section markers at an indent unrelated to
    that plan's depth, so no indent rule can tell where an Initial
    Plan section ends. An adaptive plan contributes its current plan,
    a query stage the plan it wraps, a cached scan its relation and
    the relation's cached plan (inner children), and every node its
    subqueries (inner children too)."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        yield node.verboseString(25)
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
        for seq in (node.innerChildren(), node.children()):
            stack.extend(seq.apply(i) for i in range(seq.size()))


def plan_metrics(df) -> dict:
    plan = "\n".join(_node_lines(df._jdf.queryExecution().executedPlan()))
    return {
        "scans": len(re.findall(r"FileScan parquet", plan)),
        "python": sum(plan.count(n) for n in _PY_NODES),
        "single_partition": len(re.findall(r"Exchange SinglePartition", plan)),
    }


def skipped_queries() -> set[str]:
    """Queries that cannot be built here: ``boat_plan.QUERIES`` read
    the reference boat CSV whatever sf_dir they get, so they are
    skipped where that file is missing, as
    ``tests/conftest.py::needs_boat_reference`` skips them."""
    from boat_etl_pyspark_spark.plans import boat_plan

    return set() if boat_plan.reference_present() else set(boat_plan.QUERIES)


def merge_budgets(measured: dict, previous: dict, skipped: set) -> dict:
    """The budget table to write: every measured entry, plus the
    previous entry of each query skipped on this host."""
    kept = {n: previous[n] for n in skipped if n in previous}
    return dict(sorted({**kept, **measured}.items()))


def collect(spark, skip: set) -> dict[str, dict]:
    import __spark_entry__ as entry
    from boat_etl_pyspark_spark.cache import release_caches

    out = {}
    for name, fn in entry.queries().items():
        if name.startswith("stream_") or name in skip:
            continue
        release_caches(spark)
        out[name] = plan_metrics(fn(spark, SF))
    release_caches(spark)
    return dict(sorted(out.items()))


def main() -> int:
    sys.path.insert(0, os.path.dirname(OUT.rsplit("/tests", 1)[0] + "/"))
    from boat_etl_pyspark_spark.session import get_spark

    skipped = skipped_queries()
    spark = get_spark("plan-budgets", cpus=8)
    try:
        budgets = collect(spark, skipped)
    finally:
        spark.stop()
    if "--write" in sys.argv:
        with open(OUT) as f:
            budgets = merge_budgets(budgets, json.load(f), skipped)
        with open(OUT, "w") as f:
            json.dump(budgets, f, indent=1)
        print(f"wrote {len(budgets)} budgets to {OUT}")
        return 0
    print(json.dumps(budgets, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
