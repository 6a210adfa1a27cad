"""Round-7 verdict item 4: the bench's host-drift instrumentation.

The single-thread CPU probe is a poor instrument for a multi-core
sandbox whose per-core throughput moves independently under neighbor
load — round 7's uniform ~1.35x fleet-wide slowdown sat invisible
between a calm single-thread probe and the aggregate scale, and the
1.22x disagreement sailed under the old 1.25 alarm. These tests pin
the fixes: a multi-core probe exists and measures something real, the
alarm threshold is 1.15, and a synthetic round-7-sized event FIRES it.
The per-query measure loop (with its shared-cache build count) and the
RSS reader are pinned here too.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

_BENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")


def _bench_mod():
    spec = importlib.util.spec_from_file_location("bench", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve through it
    spec.loader.exec_module(mod)
    return mod


def test_alarm_fires_on_round7_sized_disagreement():
    bench = _bench_mod()
    # round 7's actual event: fp said 1.039, agg said 0.848 -> 1.22x
    ratio, fired = bench.host_scale_disagreement(1.039, 0.848)
    assert fired, "the 1.22x round-7 event must now trip the alarm"
    assert ratio == 1.23  # 1.039 / 0.848, reported even when quiet
    # a quiet host does not fire but still reports the ratio
    ratio, fired = bench.host_scale_disagreement(1.02, 0.97)
    assert not fired
    assert ratio is not None
    # symmetric: agg >> fp fires too (uniform speedup mis-banked)
    _, fired = bench.host_scale_disagreement(0.80, 1.00)
    assert fired
    # missing estimates (no baseline / no fp_mc_ref) stay silent
    assert bench.host_scale_disagreement(None, 1.0) == (None, False)
    assert bench.host_scale_disagreement(1.0, None) == (None, False)


def test_alarm_threshold_is_at_most_1_15():
    bench = _bench_mod()
    # exactly at the boundary: 1.16x disagreement must fire
    _, fired = bench.host_scale_disagreement(1.16, 1.0)
    assert fired


def test_multicore_probe_measures_parallel_throughput():
    bench = _bench_mod()
    # the very first fork storm on a cold container pays one-time
    # page-fault/CoW costs (measured 2.55s vs the 2.14s bound on a
    # fresh sandbox); warm the fork path before judging concurrency
    bench._cpu_fingerprint_mc()
    st = bench._cpu_fingerprint()
    mc = bench._cpu_fingerprint_mc()
    assert st > 0 and mc > 0
    # all workers run CONCURRENTLY: wall time must be far below the
    # serial sum (cpu_count x single-thread), or the probe is not
    # actually exercising the cores the Spark queries use
    n = os.cpu_count() or 1
    if n >= 4:
        for _ in range(2):  # one retry: a neighbor burst is not a probe bug
            mc = bench._cpu_fingerprint_mc()
            if mc < st * n * 0.5:
                break
        assert mc < st * n * 0.5, (mc, st, n)


def test_rss_reader_reads_only_the_given_pid():
    bench = _bench_mod()
    with subprocess.Popen(
        [sys.executable, "-c", "import time; print(flush=True); time.sleep(60)"],
        stdout=subprocess.PIPE,
    ) as child:
        try:
            child.stdout.readline()  # started up: its RSS no longer grows
            with open(f"/proc/{child.pid}/status") as f:
                kb = next(
                    int(line.split()[1])
                    for line in f
                    if line.startswith("VmRSS:")
                )
            assert bench._rss_mb(child.pid)["jvm_rss_mb"] == round(kb / 1024, 1)
        finally:
            child.kill()


def test_measure_splits_build_exec_and_counts_jobs(spark):
    bench = _bench_mod()

    def query(spark, sf_dir):
        # one two-stage job (a shuffle) while built
        spark.sparkContext.parallelize([(1, 1)]).reduceByKey(max).count()
        return spark.range(1)  # one one-stage job when written

    sweep = bench.measure(spark, {"stub": query}, ["stub"], "unused", 2)
    assert sweep.jobs == {"stub": [2, 2]}
    assert sweep.stages == {"stub": [3, 3]}
    assert sweep.failed == {}
    assert sweep.cold == {"stub": sweep.total["stub"][0]}
    for build, exec_, total in zip(
        sweep.build["stub"], sweep.exec["stub"], sweep.total["stub"]
    ):
        assert 0 < build <= total
        assert build + exec_ == pytest.approx(total)
    assert len(sweep.rss_per_rep) == 2


def test_measure_counts_shared_cache_builds(spark):
    from boat_etl_pyspark_spark import cache

    bench = _bench_mod()

    def query(spark, sf_dir):
        return cache.shared(spark, sf_dir, "bench_probe", lambda: spark.range(3))

    try:
        sweep = bench.measure(spark, {"stub": query}, ["stub"], "unused", 2)
        assert sweep.shared_builds == {"stub": [1, 0]}  # one build, one hit
    finally:
        cache.release_caches(spark)
