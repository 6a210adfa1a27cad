"""Per-layer metrics of the traced run, rolled up from its spans.

Every metric except ``session.get_spark_s``, ``cache.storage_mb`` and
``trace.ops_per_cpu_s`` is an average per warm op; ``*.share`` is a
layer's self time over the summed wall time of the warm ops.
"""

from __future__ import annotations

from .trace import Span, self_times

# span name -> layer whose self time it counts toward
LAYER_OF_SPAN = {
    "op": "other",
    "session.tune": "session",
    "sources.load_table": "sources",
    "plans.build": "plans",
    "exec.action": "exec",
    "streaming.read": "streaming",
    "streaming.run": "streaming",
}
PIPELINE_STAGES = ("read_raw_lines", "clean_lines", "parse_csv", "transform",
                   "assert_valid", "finalize", "summarize")
for _stage in ("run",) + PIPELINE_STAGES:
    LAYER_OF_SPAN[f"pipeline.{_stage}"] = "pipeline"
SHARED_LAYERS = ("session", "sources", "plans", "exec", "streaming", "pipeline", "other")

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.tune_s": "s",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "sources.load_table_jobs": "count",
    "plans.build_s": "s",
    "plans.build_self_s": "s",
    "plans.build_jobs": "count",
    "cache.builds": "count",
    "cache.released": "count",
    "cache.storage_mb": "MB",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.cpu_share": "ratio",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "streaming.run_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_partitions": "count",
    "streaming.state_rows": "count",
    "pipeline.run_s": "s",
    "pipeline.transform_s": "s",
    "pipeline.assert_valid_s": "s",
    "pipeline.sinks_s": "s",
    "pipeline.jobs": "count",
    **{f"{layer}.share": "ratio" for layer in SHARED_LAYERS},
    "trace.ops_per_cpu_s": "1/s",
}


def rollup(spans: list[Span], warm_ops: set[int], op_counts: dict[int, dict],
           released: int, storage_mb: float, ops_per_cpu_s: float) -> dict[str, float]:
    """Per-layer metrics from the spans and per-op counts of the warm ops.

    ``op_counts[op]`` holds that op's stage totals, Catalyst phases,
    streaming progress and cache builds; ``released`` is the number of
    cache entries released at the starts of the warm passes.
    """
    selfs = self_times(spans)
    n = max(1, len(warm_ops))
    self_by_name: dict[str, float] = {}
    dur_by_name: dict[str, float] = {}
    calls_by_name: dict[str, int] = {}
    jobs_by_name: dict[str, int] = {}
    self_jobs_by_name: dict[str, int] = {}
    child_jobs: dict[int, int] = {}
    for s in spans:
        if s.parent is not None:
            child_jobs[s.parent] = child_jobs.get(s.parent, 0) + s.counts.get("jobs", 0)
    for i, s in enumerate(spans):
        if s.op not in warm_ops:
            continue
        jobs = s.counts.get("jobs", 0)
        self_by_name[s.name] = self_by_name.get(s.name, 0.0) + selfs[i]
        dur_by_name[s.name] = dur_by_name.get(s.name, 0.0) + (s.end - s.start)
        calls_by_name[s.name] = calls_by_name.get(s.name, 0) + 1
        jobs_by_name[s.name] = jobs_by_name.get(s.name, 0) + jobs
        self_jobs_by_name[s.name] = self_jobs_by_name.get(s.name, 0) + jobs - child_jobs.get(i, 0)
    op_total = dur_by_name.get("op", 0.0) or 1.0

    def total(key: str) -> float:
        return sum(c.get(key, 0) for op, c in op_counts.items() if op in warm_ops)

    layer_self = dict.fromkeys(SHARED_LAYERS, 0.0)
    for name, t in self_by_name.items():
        layer_self[LAYER_OF_SPAN.get(name, "other")] += t
    get_spark = [s for s in spans if s.name == "session.get_spark"]
    run_ms, cpu_ns = total("run_ms"), total("cpu_ns")
    m = {
        "session.get_spark_s": sum(s.end - s.start for s in get_spark),
        "session.tune_s": self_by_name.get("session.tune", 0.0) / n,
        "sources.load_table_calls": calls_by_name.get("sources.load_table", 0) / n,
        "sources.load_table_s": self_by_name.get("sources.load_table", 0.0) / n,
        "sources.load_table_jobs": jobs_by_name.get("sources.load_table", 0) / n,
        "plans.build_s": dur_by_name.get("plans.build", 0.0) / n,
        "plans.build_self_s": self_by_name.get("plans.build", 0.0) / n,
        "plans.build_jobs": self_jobs_by_name.get("plans.build", 0) / n,
        "cache.builds": total("cache_builds") / n,
        "cache.released": released / n,
        "cache.storage_mb": storage_mb,
        "catalyst.analysis_ms": total("analysis") / n,
        "catalyst.optimization_ms": total("optimization") / n,
        "catalyst.planning_ms": total("planning") / n,
        "exec.action_s": self_by_name.get("exec.action", 0.0) / n,
        "exec.jobs": jobs_by_name.get("op", 0) / n,
        "exec.stages": total("stages") / n,
        "exec.tasks": total("tasks") / n,
        "exec.task_run_s": run_ms / 1e3 / n,
        "exec.task_cpu_s": cpu_ns / 1e9 / n,
        "exec.cpu_share": cpu_ns / 1e6 / run_ms if run_ms else 0.0,
        "exec.gc_s": total("gc_ms") / 1e3 / n,
        "exec.shuffle_write_mb": total("shuffle_write_b") / 2**20 / n,
        "exec.spill_mb": total("spill_b") / 2**20 / n,
        "streaming.run_s": dur_by_name.get("streaming.run", 0.0) / n,
        "streaming.batches": total("batches") / n,
        "streaming.input_rows": total("input_rows") / n,
        "streaming.add_batch_ms": total("add_batch_ms") / n,
        "streaming.state_commit_ms": total("state_commit_ms") / n,
        "streaming.state_partitions": total("state_partitions") / n,
        "streaming.state_rows": total("state_rows") / n,
        "pipeline.run_s": dur_by_name.get("pipeline.run", 0.0) / n,
        "pipeline.transform_s": dur_by_name.get("pipeline.transform", 0.0) / n,
        "pipeline.assert_valid_s": dur_by_name.get("pipeline.assert_valid", 0.0) / n,
        "pipeline.sinks_s": self_by_name.get("pipeline.run", 0.0) / n,
        "pipeline.jobs": jobs_by_name.get("pipeline.run", 0) / n,
        "trace.ops_per_cpu_s": ops_per_cpu_s,
    }
    for layer, t in layer_self.items():
        m[f"{layer}.share"] = t / op_total
    return m
