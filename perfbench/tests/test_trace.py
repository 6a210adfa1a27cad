import sys
import types

import pytest

from perfbench.trace import Span, Tracer, self_times


def test_self_time_subtracts_children():
    spans = [
        Span("op", 0.0, 10.0),
        Span("plans.build", 1.0, 4.0, parent=0),
        Span("sources.load_table", 1.5, 2.0, parent=1),
        Span("sources.load_table", 2.5, 3.5, parent=1),
        Span("exec.action", 5.0, 9.0, parent=0),
    ]
    assert self_times(spans) == pytest.approx([3.0, 1.5, 0.5, 1.0, 4.0])


def test_self_time_counts_overlapping_children_once_and_clips_them():
    spans = [
        Span("op", 0.0, 4.0),
        Span("a", 1.0, 3.0, parent=0),
        Span("b", 2.0, 5.0, parent=0),
    ]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_tracer_nests_spans_and_diffs_counters():
    jobs = iter(range(0, 100, 2))
    tracer = Tracer(probe=lambda: {"jobs": next(jobs)})
    tracer.op = 7
    with tracer.span("op"):
        with tracer.span("plans.build"):
            pass
    op, build = tracer.spans
    assert build.parent == 0 and op.parent is None
    assert op.op == build.op == 7
    assert build.counts == {"jobs": 2}
    assert op.counts == {"jobs": 6}
    assert op.start <= build.start <= build.end <= op.end


def test_patch_rebinds_every_copy_in_program_modules():
    def load_table(x):
        return x * 2

    home = types.ModuleType("boat_etl_pyspark_spark_fake_home")
    user = types.ModuleType("boat_etl_pyspark_spark_fake_user")
    other = types.ModuleType("unrelated_fake")
    for m in (home, user, other):
        m.load_table = load_table
        sys.modules[m.__name__] = m
    try:
        tracer = Tracer()
        tracer.patch("sources.load_table", home, "load_table")
        assert user.load_table(3) == 6
        assert home.load_table is user.load_table is not load_table
        assert other.load_table is load_table
        assert [s.name for s in tracer.spans] == ["sources.load_table"]
    finally:
        for m in (home, user, other):
            del sys.modules[m.__name__]
