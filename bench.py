#!/usr/bin/env python
"""Benchmark harness (driver contract) and per-query profiler.

Runs every contract query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``,
``$SPARK_GRAFT_BENCH_REPS`` times (default 3), and prints ONE JSON
line::

    {"metric": "total_sec_all_queries", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Usage::

    python bench.py                        # the whole registry
    python bench.py q3_shipping_priority [more ...] [--explain DIR]

Query names restrict the sweep; ``--explain DIR`` writes each swept
query's formatted plan (as built in the last rep) to ``DIR/<name>.txt``.

Execution is forced with the noop sink (full computation, no driver
collect) except for streaming queries, whose memory-sink table is
counted. A warm-up query absorbs JVM/codegen startup so per-query
numbers measure the plans, not the JIT. A query that raises is counted
in ``n_failed`` (its traceback tail goes to bench_full.json's
``failed``) and the sweep goes on; the line also states the ``cpus``,
``default_parallelism`` and effective ``shuffle_partitions`` it ran
with. Per query and rep, bench_full.json also splits the total into
build seconds (the query callable: Python plan construction plus any
jobs it runs eagerly), the Spark job and stage counts and the
session-shared relations it built (``shared_builds_reps_detail``: 1 on
a build, 0 on a hit), and gives the cold rep-1 total (``cold_value``)
next to the min-of-N ``value``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import traceback
from dataclasses import dataclass, field


# stream_stream_left_outer replays 3 files through availableNow so the
# watermark genuinely advances across micro-batches; the replay harness
# itself costs ~3.9s of the query's ~4.3s (dropping to 2 files saved
# only 0.35s — measured round 4, SCALE.md "bench-regression
# attribution"). Recorded into bench_full.json so a future slowdown on
# that query can be split into harness floor vs plan regression.
_SSLO_REPLAY_FLOOR_SEC = 3.9


def _fingerprint_worker(_arg: int) -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t0


def _cpu_fingerprint() -> float:
    """Single-thread CPU speed probe (seconds for a fixed pure-python
    loop). Recorded into bench_full.json so cross-round comparisons
    can tell host drift from code regressions: round 3's 91s->103s
    'regression' reproduced byte-identically on round-2 code — the
    host, not the repo, had slowed."""
    return round(_fingerprint_worker(0), 4)


def _cpu_fingerprint_mc() -> float:
    """Multi-core CPU speed probe: wall seconds for os.cpu_count()
    processes to each run the fixed pure-python loop concurrently.
    Round-7 verdict item 4: the single-thread probe is the wrong
    instrument for a multi-core sandbox whose per-core throughput
    moves independently under neighbor load — round 7's uniform
    ~1.35x fleet-wide slowdown sat invisible between a calm
    single-thread probe and the agg scale. Under contention this
    probe degrades the way the 32-thread Spark queries actually do."""
    import multiprocessing as mp

    n = os.cpu_count() or 1
    ctx = mp.get_context("fork")  # no pickling: children inherit memory
    procs = [
        ctx.Process(target=_fingerprint_worker, args=(i,)) for i in range(n)
    ]
    t0 = time.perf_counter()
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    return round(time.perf_counter() - t0, 4)


def host_scale_disagreement(
    fp_scale: float | None, agg_scale: float | None, threshold: float = 1.15
) -> tuple[float | None, bool]:
    """(fp_scale/agg_scale ratio, alarm_fired). The two host-scale
    estimates should agree on a quiet host; min(fp, agg) scaling
    absorbs a FLEET-WIDE slowdown into the aggregate denominator
    (round-6 ADVICE), so when they diverge past ``threshold`` the
    round's bench needs a manual look. Round 7's 1.22x event sailed
    under the old 1.25 alarm — hence 1.15, and the ratio is now
    always printed, not only when the alarm fires."""
    if not fp_scale or not agg_scale:
        return None, False
    ratio = round(fp_scale / agg_scale, 2)
    fired = max(fp_scale, agg_scale) / min(fp_scale, agg_scale) > threshold
    return ratio, fired


def _rss_mb(jvm_pid: int) -> dict:
    """Driver-python max RSS and the resident set of JVM ``jvm_pid``,
    in MB (local mode: the executor lives inside the driver JVM, so
    this is the whole app). Only the session's own JVM is read, so a
    concurrent test or benchmark JVM on the host is not counted."""
    out = {}
    try:
        import resource

        out["python_max_mb"] = round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
        )
    except Exception:
        pass
    try:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    out["jvm_rss_mb"] = round(int(line.split()[1]) / 1024, 1)
                    break
    except OSError:
        pass
    return out


@dataclass
class Sweep:
    """Per-query, per-rep records of one ``measure`` call. ``total``,
    ``build``, ``exec``, ``jobs``, ``stages`` and ``shared_builds`` map
    a query name to one entry per rep it passed; ``cold`` holds the
    rep-1 total of each query that passed rep 1."""

    total: dict[str, list[float]]
    build: dict[str, list[float]]
    exec: dict[str, list[float]]
    jobs: dict[str, list[int]]
    stages: dict[str, list[int]]
    shared_builds: dict[str, list[int]]
    cold: dict[str, float] = field(default_factory=dict)
    # name -> tail of the first traceback
    failed: dict[str, str] = field(default_factory=dict)
    rss_per_rep: list[dict] = field(default_factory=list)


def _explain(df, path: str) -> None:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(path, "w") as f:
        f.write(plan)


def measure(spark, queries, names, sf_dir, reps, explain_dir=None) -> Sweep:
    """Run each of ``names`` ``reps`` times, one sorted sweep per rep.

    One ``perf_counter`` span times the build (the query callable)
    plus the noop write; the build and exec parts are timed inside it.
    The Spark job and stage counts are ``nextJobId`` and ``nextStageId``
    read before and after, outside the timed span, so they include jobs
    the callable runs eagerly (shared-cache fills, driver-side
    fixpoints); so are the session-shared relations it built (growth of
    ``cache._SHARED``: 0 on a hit). A query that raises is counted in
    ``failed`` and retried every rep, never dropped from the sweep. With
    ``explain_dir``, the last rep's plan of each query is written to
    ``explain_dir/<name>.txt``."""
    from boat_etl_pyspark_spark import cache

    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    jvm_pid = sc._gateway.proc.pid
    sweep = Sweep(
        total={name: [] for name in names},
        build={name: [] for name in names},
        exec={name: [] for name in names},
        jobs={name: [] for name in names},
        stages={name: [] for name in names},
        shared_builds={name: [] for name in names},
    )
    for rep in range(reps):
        for name in sorted(names):
            jobs0, stages0 = dag.nextJobId(), dag.nextStageId()
            shared0 = len(cache._SHARED)
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception:
                sweep.failed.setdefault(name, traceback.format_exc()[-800:])
                continue
            sweep.jobs[name].append(dag.nextJobId() - jobs0)
            sweep.stages[name].append(dag.nextStageId() - stages0)
            sweep.shared_builds[name].append(len(cache._SHARED) - shared0)
            sweep.total[name].append(t2 - t0)
            sweep.build[name].append(t1 - t0)
            sweep.exec[name].append(t2 - t1)
            if rep == 0:
                sweep.cold[name] = t2 - t0
            if explain_dir and rep == reps - 1:
                _explain(df, os.path.join(explain_dir, f"{name}.txt"))
        sweep.rss_per_rep.append(_rss_mb(jvm_pid))
    return sweep


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Time contract queries; print one JSON line."
    )
    ap.add_argument(
        "names", nargs="*", help="queries to sweep (default: every query)"
    )
    ap.add_argument(
        "--explain",
        metavar="DIR",
        help="write each query's formatted plan to DIR/<name>.txt",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(sf_match.group(1)) if sf_match else None

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from boat_etl_pyspark_spark.session import get_spark

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    unknown = sorted(set(args.names) - set(queries))
    if unknown:
        ap.error(f"unknown queries: {' '.join(unknown)}")
    names = sorted(set(args.names) or queries)
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)

    spark = get_spark("boat-etl-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM, parquet footers, codegen
    queries["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # warm-up: Python worker pool (Arrow path) — otherwise the first
    # mapInPandas query's number includes one-time worker spawn
    import pandas as _pd  # noqa: F401

    spark.range(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # min-of-N per query: the host is noisy (same code measured +/-50%
    # across runs round 1), so the minimum is the signal. Spread is
    # reported so regressions are attributable to code vs host noise.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    fp_start = _cpu_fingerprint()
    fp_mc_start = _cpu_fingerprint_mc()
    sweep = measure(spark, queries, names, sf_dir, reps, args.explain)
    fp_end = _cpu_fingerprint()
    fp_mc_end = _cpu_fingerprint_mc()
    runs, failed = sweep.total, sweep.failed

    # hand back executor storage memory pinned by the dedup-family
    # shared caches and per-query persisted intermediates
    from boat_etl_pyspark_spark.cache import release_caches

    released = release_caches(spark)

    timed = {name: ts for name, ts in sorted(runs.items()) if ts}
    timings = {name: round(min(ts), 3) for name, ts in timed.items()}
    spread = {name: round(max(ts) - min(ts), 3) for name, ts in timed.items()}
    parallelism = {
        "cpus": cpus,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }
    total = round(sum(timings.values()), 3)

    # Host-drift normalization + per-query comparison vs the best prior
    # round (bench_baseline.json, checked in; fp_ref is the CPU
    # fingerprint measured alongside those timings). normalized_sec =
    # measured * fp_ref / fp_measured: a slower host (bigger
    # fingerprint) scales timings DOWN, so cross-round ratios compare
    # code, not hosts. Ratios > 2.0 are flagged as regressions.
    fp_measured = round((fp_start + fp_end) / 2, 4)
    fp_mc_measured = round((fp_mc_start + fp_mc_end) / 2, 4)
    normalized_value = None
    vs_best_prior: dict[str, float] = {}
    vs_best_prior_fp: dict[str, float] = {}
    regressions: dict[str, float] = {}
    scale_disagree = mc_disagree = None
    baseline_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_baseline.json"
    )
    baseline = None
    if os.path.exists(baseline_path):
        with open(baseline_path) as f:
            baseline = json.load(f)
    # per-query ratios only make sense at the baseline's scale factor —
    # at a smaller sf, fixed per-query overhead dominates and every
    # ratio reads as a phantom regression
    fp_scale = agg_scale = fp_mc_scale = None
    scale_alarm = False
    if baseline is not None and baseline.get("sf") == sf:
        fp_scale = baseline["fp_ref"] / fp_measured
        if baseline.get("fp_mc_ref"):
            fp_mc_scale = baseline["fp_mc_ref"] / fp_mc_measured
        # The python fingerprint is a rough JVM proxy (round 6: it said
        # the host was 1.45x slower while the 327-query aggregate said
        # 1.07x). For REGRESSION FLAGGING use the smaller of the two
        # host-scale estimates, so a fingerprint error can only shrink
        # ratios, never mint a phantom flag; a real per-query regression
        # barely moves the aggregate, so it still stands out. (The
        # banking direction is the opposite — tools/bank_bench.py uses
        # the LARGER scale so a banked best is never fingerprint
        # flattery.)
        common = [n for n in timings if n in baseline["queries"]]
        agg_scale = fp_scale
        if common:
            agg_scale = sum(baseline["queries"][n] for n in common) / max(
                sum(timings[n] for n in common), 1e-9
            )
        scale = min(fp_scale, agg_scale)
        normalized_value = round(total * scale, 3)
        for name, sec in timings.items():
            prior = baseline["queries"].get(name)
            if prior:
                vs_best_prior[name] = round(sec * scale / prior, 2)
                vs_best_prior_fp[name] = round(sec * fp_scale / prior, 2)
        regressions = {n: r for n, r in vs_best_prior.items() if r > 2.0}
        # min(fp, agg) scaling absorbs a FLEET-WIDE slowdown into the
        # aggregate denominator (round-6 ADVICE): a uniform 3x code
        # regression inflates agg_scale and every ratio still reads
        # ~1.0. Surface that blind spot (round-7 verdict item 4): the
        # disagreement is ALWAYS printed now, the alarm threshold is
        # 1.15 (round 7's 1.22 event sailed under the old 1.25), and
        # the multi-core probe — which degrades under neighbor load
        # the way the 32-thread queries actually do — gets its own
        # scale + alarm when the baseline has banked fp_mc_ref. The
        # raw fp-scaled ratios stay in bench_full.json where a broad
        # slowdown remains visible.
        scale_disagree, fired = host_scale_disagreement(fp_scale, agg_scale)
        mc_disagree, mc_fired = host_scale_disagreement(
            fp_mc_scale, agg_scale
        )
        scale_alarm = fired or mc_fired

    # Full detail goes to a FILE (the driver's stdout capture keeps only
    # the last 2000 characters — verified in BENCH_r01/r02, where the
    # ~4.5 KB all-queries JSON line was truncated and "parsed" came back
    # null both rounds). The printed line must fit the tail window.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "queries": timings,
                "query_spread": spread,
                "reps_detail": {
                    name: [round(t, 3) for t in ts]
                    for name, ts in sorted(runs.items())
                },
                "build_reps_detail": {
                    name: [round(t, 3) for t in ts]
                    for name, ts in sorted(sweep.build.items())
                },
                "jobs_reps_detail": dict(sorted(sweep.jobs.items())),
                "stages_reps_detail": dict(sorted(sweep.stages.items())),
                "shared_builds_reps_detail": dict(
                    sorted(sweep.shared_builds.items())
                ),
                "cold_value": round(sum(sweep.cold.values()), 3),
                "rss_per_rep_mb": sweep.rss_per_rep,
                "cpu_fingerprint_sec": {"start": fp_start, "end": fp_end},
                "cpu_fingerprint_mc_sec": {
                    "start": fp_mc_start,
                    "end": fp_mc_end,
                },
                "normalized_value": normalized_value,
                "host_scale_fp": fp_scale,
                "host_scale_fp_mc": fp_mc_scale,
                "host_scale_agg": agg_scale,
                "host_scale_disagreement": scale_disagree,
                "host_scale_mc_disagreement": mc_disagree,
                "host_scale_alarm": scale_alarm,
                "vs_best_prior": vs_best_prior,
                "vs_best_prior_fp_scaled": vs_best_prior_fp,
                "regressions_gt_2x": regressions,
                "stream_stream_left_outer_replay_floor_sec": _SSLO_REPLAY_FLOOR_SEC,
                "caches_released": released,
                "failed": failed,
                **parallelism,
                "reps": reps,
                "unit": "sec",
                "sf": sf,
                "metric": "total_sec_all_queries",
                "value": total,
            },
            f,
            indent=1,
            sort_keys=True,
        )

    # ONE short JSON line (≤ ~1900 chars): headline total plus as many
    # per-query timings as fit, most expensive first — those are the
    # ones a regression check needs. The rest live in bench_full.json.
    line_queries: dict[str, float] = {}
    base = {
        "metric": "total_sec_all_queries",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "reps": reps,
        "n_queries": len(timings),
        "n_failed": len(failed),
        **parallelism,
        "cpu_fp_sec": fp_measured,
        "cpu_fp_mc_sec": fp_mc_measured,
        "normalized_value": normalized_value,
        "n_regressed_gt_2x": len(regressions),
        "scale_disagree": scale_disagree,
        "scale_disagree_mc": mc_disagree,
        "scale_alarm": scale_alarm,
        # worst normalized ratios vs the best prior round, capped so the
        # headline per-query timings still fit the driver's tail window
        "vs_best_prior": dict(
            sorted(vs_best_prior.items(), key=lambda kv: -kv[1])[:8]
        ),
        "detail": "bench_full.json",
    }
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        trial = dict(base, queries=dict(line_queries, **{name: sec}))
        if len(json.dumps(trial)) > 1900:
            break
        line_queries[name] = sec
    print(json.dumps(dict(base, queries=line_queries)))
    spark.stop()


if __name__ == "__main__":
    main()
