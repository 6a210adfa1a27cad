"""The benchmark's workloads and their ops.

A query op is one registry query, built by ``queries()[name]`` and
forced with the noop sink; a pipeline op is one ``run_pipeline`` call.
Each workload is a closed loop with one client: passes over its ops,
back to back, in an order drawn from the seed.

A workload lists groups of ops. The seed orders the groups of each
pass; the ops of a group keep their listed order, so within a pass the
same op always pays for building a cache its group shares.
"""

from __future__ import annotations

import math
import random

# Fixed per-query cost dominates: many table loads and plan building.
TPCH = (
    "q3_shipping_priority",
    "q5_region_revenue",
    "q9_product_profit",
)
# Executor compute and the shared shingle, signature and pair caches,
# released at the start of every pass so every pass rebuilds them.
DEDUP = (("dedup_minhash_lsh", "dedup_ngram_jaccard"),)
# Micro-batches with state-store commits and checkpoint writes.
STREAMING = ("stream_tumbling_6h",)
# The paper's pipeline: text scan, Arrow pandas UDF, validation, sinks.
PIPELINE_OP = "run_pipeline"
PIPELINE = (PIPELINE_OP,)

WORKLOADS = {
    "tpch": TPCH,
    "stateful_etl": DEDUP + STREAMING + PIPELINE,
}
RELEASE_CACHES_EACH_PASS = {"stateful_etl"}
# Wall time of one warm pass on the reference host (4 shared virtual
# cores), which turns --seconds into a number of warm passes.
NOMINAL_PASS_S = {"tpch": 2.5, "stateful_etl": 9.0}
MIN_WARM_PASSES = 3
# Families of ops inside a workload, which the traced run also rolls up
# on their own.
FAMILIES = {"stateful_etl": {"dedup": DEDUP, "streaming": STREAMING, "pipeline": PIPELINE}}


def _ops(group) -> tuple[str, ...]:
    return group if isinstance(group, tuple) else (group,)


def ops_of(workload: str) -> tuple[str, ...]:
    """Every op of a workload, in listed order."""
    return tuple(op for group in WORKLOADS[workload] for op in _ops(group))


def families_of(workload: str) -> dict[str, set[str]]:
    """The op names of each query family of a workload (none for a
    workload of one family)."""
    return {
        family: {op for group in groups for op in _ops(group)}
        for family, groups in FAMILIES.get(workload, {}).items()
    }


def pass_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """The ops of one pass in the order the seed gives that pass."""
    groups = list(WORKLOADS[workload])
    random.Random(seed * 100_003 + pass_no).shuffle(groups)
    return [op for group in groups for op in _ops(group)]


def warm_passes(workload: str, seconds: float) -> int:
    """Warm passes of a run: --seconds over the workload's nominal pass
    time, and at least three. Warm passes still get cheaper for a few
    passes while the JIT compiles; since the count does not depend on how
    fast the passes run, every run of a workload, at any host load and
    before or after a change to the program, takes its median pass at
    the same point of that curve."""
    return max(MIN_WARM_PASSES, math.ceil(seconds / NOMINAL_PASS_S[workload]))
