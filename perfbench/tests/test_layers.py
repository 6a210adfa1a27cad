import pytest

from perfbench.layers import PER_LAYER, rollup
from perfbench.trace import Span


def _op(op, t0):
    return [
        Span("op", t0, t0 + 10.0, op=op, counts={"jobs": 5}),
        Span("plans.build", t0 + 1, t0 + 4, parent=None, op=op, counts={"jobs": 3}),
        Span("sources.load_table", t0 + 1, t0 + 2, parent=None, op=op, counts={"jobs": 1}),
        Span("exec.action", t0 + 5, t0 + 9, parent=None, op=op, counts={"jobs": 2}),
    ]


def _spans():
    spans = [Span("session.get_spark", -5.0, -1.0)]
    for op, t0 in ((1, 0.0), (2, 20.0), (3, 40.0)):
        base = len(spans)
        s = _op(op, t0)
        s[1].parent = s[3].parent = base
        s[2].parent = base + 1
        spans.extend(s)
    return spans


def test_rollup_attributes_self_time_and_jobs_per_warm_op():
    counts = {op: {"run_ms": 1000, "cpu_ns": 5e8, "stages": 4, "analysis": 3,
                   "cache_builds": 1 if op == 2 else 0} for op in (1, 2, 3)}
    m = rollup(_spans(), {2, 3}, counts, released=4, storage_mb=1.5,
               ops_per_cpu_s=0.1)
    assert set(m) == set(PER_LAYER)
    assert m["session.get_spark_s"] == pytest.approx(4.0)
    assert m["sources.load_table_calls"] == 1
    assert m["sources.load_table_s"] == pytest.approx(1.0)
    assert m["sources.load_table_jobs"] == 1
    assert m["plans.build_s"] == pytest.approx(3.0)
    assert m["plans.build_self_s"] == pytest.approx(2.0)
    assert m["plans.build_jobs"] == 2
    assert m["exec.action_s"] == pytest.approx(4.0)
    assert m["exec.jobs"] == 5
    assert m["exec.cpu_share"] == pytest.approx(0.5)
    assert m["cache.builds"] == 0.5
    assert m["cache.released"] == 2
    assert m["catalyst.analysis_ms"] == 3
    assert m["sources.share"] == pytest.approx(0.1)
    assert m["plans.share"] == pytest.approx(0.2)
    assert m["exec.share"] == pytest.approx(0.4)
    assert m["other.share"] == pytest.approx(0.3)
    shares = [v for k, v in m.items() if k.endswith(".share") and k != "exec.cpu_share"]
    assert sum(shares) == pytest.approx(1.0)
