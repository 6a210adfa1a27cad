"""Spans and counters for the traced run.

A span records one call into a layer: its name, start and end, the
span it was called from, the op it belongs to, and counts taken at the
same two boundaries (Spark job ids, stage ids). Spans stay in memory
and are rolled up when the run ends. The tracer wraps the program's
public functions from outside, where the calling modules bind them; it
changes no code of the program.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    counts: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out.append(s.end - s.start - covered)
    return out


class NullTracer:
    """The untraced run's tracer: spans cost nothing and record nothing."""

    op: int | None = None

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    """Records spans; ``probe()`` returns the counters read at each
    span boundary (a dict of monotonically increasing integers)."""

    def __init__(self, probe=None):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self.probe = probe or (lambda: {})

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, op=self.op)
        before = self.probe()
        s.start = time.perf_counter()
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            after = self.probe()
            s.counts.update({k: after[k] - before[k] for k in after if k in before})

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, name: str, module, attr: str) -> None:
        """Wrap ``module.attr`` and every binding of that same function
        in the program's modules (``from x import f`` copies)."""
        original = getattr(module, attr)
        traced = self.wrap(name, original)
        for mod in list(sys.modules.values()):
            mod_name = getattr(mod, "__name__", "")
            if not (mod_name.startswith("boat_etl_pyspark_spark") or mod_name == "__spark_entry__"):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, traced)


def spark_probe(spark):
    """Counters read at span boundaries: next Spark job and stage ids."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: {"jobs": dag.nextJobId(), "stages": dag.nextStageId()}


STAGE_FIELDS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_b", "spill_b")


def stage_totals(spark, first: int, end: int) -> dict:
    """Summed task metrics of the completed stages with ids in
    [first, end), read from the status store after the listener bus has
    delivered every event."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    stages = jsc.statusStore().stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    out = dict.fromkeys(STAGE_FIELDS, 0) | {"stages": 0}
    for i in range(stages.size()):
        st = stages.apply(i)  # newest first
        sid = st.stageId()
        if sid < first:
            break
        if sid >= end or st.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["run_ms"] += st.executorRunTime()
        out["cpu_ns"] += st.executorCpuTime()
        out["gc_ms"] += st.jvmGcTime()
        out["shuffle_write_b"] += st.shuffleWriteBytes()
        out["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def catalyst_phases(df) -> dict:
    """Catalyst phase times (ms) of ``df``'s plan. The noop write plans
    the query in a query execution of its own, so the op's plan is
    planned once more here, outside the op's spans, to read its
    optimization and planning phases; analysis includes the write's."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {k: phases.apply(k).durationMs() for k in ("analysis", "optimization", "planning")
            if phases.contains(k)}


def stream_progress(queries) -> dict:
    """Micro-batch counts of finished streaming queries, from their
    ``StreamingQueryProgress`` records."""
    out = {"batches": 0, "input_rows": 0, "add_batch_ms": 0, "state_commit_ms": 0,
           "state_partitions": 0, "state_rows": 0}
    for q in queries:
        progress = [p for p in q.recentProgress if p.numInputRows or p.stateOperators]
        out["batches"] += len(progress)
        for p in progress:
            out["input_rows"] += p.numInputRows
            out["add_batch_ms"] += p.durationMs.get("addBatch", 0)
            out["state_commit_ms"] += sum(s.commitTimeMs for s in p.stateOperators)
        if progress:
            last = progress[-1].stateOperators
            out["state_partitions"] += sum(s.numShufflePartitions for s in last)
            out["state_rows"] += sum(s.numRowsTotal for s in last)
    return out
