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
returned relation is a memory-sink scan with no plan to budget).
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


def _drop_initial_plan_blocks(plan: str) -> str:
    """Remove ``== Initial Plan ==`` blocks from an (executed) adaptive
    plan string. Session-shared caches are materialized eagerly
    (textdedup._cached), so their stored subplans print BOTH the final
    and the initial AQE plan — counting raw matches would double every
    FileScan under a cache. Only the final (actually executed) shape
    is budgeted."""
    out = []
    skip_indent = None
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        indent = len(line) - len(body)
        if skip_indent is not None:
            # section content prints at indent EQUAL to its marker
            # ("+- == Initial Plan ==" then "   HashAggregate ..."),
            # and nothing legitimately follows the Initial section
            # inside the same adaptive block — skip until the
            # indentation returns to an ancestor level
            if indent >= skip_indent:
                continue
            skip_indent = None
        if body.startswith("== Initial Plan =="):
            skip_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def plan_metrics(df) -> dict:
    plan = _drop_initial_plan_blocks(
        df._jdf.queryExecution().executedPlan().toString()
    )
    return {
        "scans": len(re.findall(r"FileScan parquet", plan)),
        "python": sum(plan.count(n) for n in _PY_NODES),
        "single_partition": len(re.findall(r"Exchange SinglePartition", plan)),
    }


def collect(spark) -> dict[str, dict]:
    import __spark_entry__ as entry
    from boat_etl_pyspark_spark.plans import release_caches

    out = {}
    for name, fn in entry.queries().items():
        if name.startswith("stream_"):
            continue
        release_caches(spark)
        out[name] = plan_metrics(fn(spark, SF))
    release_caches(spark)
    return dict(sorted(out.items()))


def main() -> int:
    sys.path.insert(0, os.path.dirname(OUT.rsplit("/tests", 1)[0] + "/"))
    from boat_etl_pyspark_spark.session import get_spark

    spark = get_spark("plan-budgets", cpus=8)
    try:
        budgets = collect(spark)
    finally:
        spark.stop()
    if "--write" in sys.argv:
        with open(OUT, "w") as f:
            json.dump(budgets, f, indent=1)
        print(f"wrote {len(budgets)} budgets to {OUT}")
        return 0
    print(json.dumps(budgets, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
