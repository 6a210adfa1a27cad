"""One benchmark client: a fresh process that runs one workload.

``run.py`` starts it with a JSON config as its only argument and reads
the JSON it writes to ``config["out"]``. The client creates the Spark
session, runs a cold pass (set-up), then a number of warm passes set
by --seconds, then checks results outside the measured window.
"""

from __future__ import annotations

import io
import json
import os
import resource
import statistics
import sys
import time
import traceback

from .stats import tail_percentile
from .workloads import (
    PIPELINE_OP, RELEASE_CACHES_EACH_PASS, families_of, ops_of, pass_order, warm_passes,
)

# No warm pass starts after the client has run this long: on a host
# whose CPUs are mostly taken by other guests, fewer passes keep the run
# within the deadline ``run.py`` gives it. The detail line then says so.
LATEST_WINDOW_END_S = 110.0


class QueryOps:
    """Registry queries over the fixture tables; checked against DuckDB."""

    def __init__(self, spark, sf_dir: str, entry, cache_dir: str):
        self.spark, self.sf_dir, self.cache_dir = spark, sf_dir, cache_dir
        self.queries, self.oracle = entry.queries(), entry.oracle_sql()
        self.outputs: dict[int, object] = {}

    def run(self, op_id: int, name: str, tracer, collect: bool):
        """Build the query and force it: with the noop sink, or (cold
        pass) by collecting its rows for the check."""
        with tracer.span("plans.build"):
            df = self.queries[name](self.spark, self.sf_dir)
        with tracer.span("exec.action"):
            if collect:
                self.outputs[op_id] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, op_names: dict[int, str]) -> dict[int, list[str]]:
        """Problems per collected op, against DuckDB on the same files."""
        from tests.test_oracle_parity import frames_equal

        from .oracle import oracle_frame

        return {
            op: frames_equal(got, oracle_frame(self.sf_dir, self.oracle[op_names[op]], self.cache_dir))
            for op, got in self.outputs.items()
        }


class PipelineOps:
    """``run_pipeline`` over the generated CSV with both sinks; every
    op's summary is kept and checked against the generator's answer."""

    def __init__(self, spark, csv_path: str, out_dir: str, expected: dict):
        self.spark, self.csv_path = spark, csv_path
        self.parquet_out = os.path.join(out_dir, "data.parquet")
        self.summary_out = os.path.join(out_dir, "data_summary.csv")
        self.expected = {k: tuple(v) for k, v in expected.items()}
        self.summaries: dict[int, str] = {}

    def run(self, op_id: int, name: str, tracer, collect: bool):
        from boat_etl_pyspark_spark.pipeline import boat

        boat.run_pipeline(self.spark, self.csv_path, self.parquet_out, self.summary_out)
        with open(self.summary_out, encoding="utf-8") as f:
            self.summaries[op_id] = f.read()
        os.remove(self.summary_out)

    def check(self, op_names: dict[int, str]) -> dict[int, list[str]]:
        import pandas as pd

        from .oracle import summary_matches

        return {
            op: summary_matches(pd.read_csv(io.StringIO(text), keep_default_na=False), self.expected)
            for op, text in self.summaries.items()
        }


def _peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """High-water resident memory of this Python process and the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return {"python": py_kb / 1024, "jvm": jvm_kb / 1024}


_TICK = os.sysconf("SC_CLK_TCK")


def _group_cpu_s() -> float:
    """CPU time, user plus system, used so far by the client's process
    group: this process, the JVM, the Python workers, and the children
    they reaped. Unlike wall time it leaves out the time the host gives
    to other guests (steal), so it does not follow the host's load."""
    pgid, ticks = os.getpgrp(), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _cpu_times() -> list[int]:
    """The host's CPU time counters: user ... steal, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the host's CPU time taken by other guests (steal)."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def _install_tracing(tracer, spark) -> None:
    from pyspark.sql.streaming import readwriter

    from boat_etl_pyspark_spark import session
    from boat_etl_pyspark_spark.pipeline import boat
    from boat_etl_pyspark_spark.sources import readers
    from boat_etl_pyspark_spark.streaming import events

    from .layers import PIPELINE_STAGES
    from .trace import spark_probe

    tracer.probe = spark_probe(spark)
    tracer.patch("session.tune", session, "tune")
    tracer.patch("sources.load_table", readers, "load_table")
    tracer.patch("streaming.read", events, "read_events_stream")
    tracer.patch("streaming.run", events, "run_stream_to_memory")
    tracer.patch("pipeline.run", boat, "run_pipeline")
    for stage in PIPELINE_STAGES:
        tracer.patch(f"pipeline.{stage}", boat, stage)
    # streaming queries started during an op, for their progress records
    tracer.streams = []
    start = readwriter.DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        tracer.streams.append(q)
        return q

    readwriter.DataStreamWriter.start = recording_start


def _cache_entries() -> int:
    from boat_etl_pyspark_spark import plans
    from boat_etl_pyspark_spark.operators import library
    from boat_etl_pyspark_spark.plans import textdedup

    return len(plans._EPHEMERAL) + len(textdedup._SHARED) + len(library._RANK_PERSISTS)


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def main() -> int:
    cfg = json.loads(sys.argv[1])
    t_start = cfg["t_start"]
    workload = cfg["workload"]
    traced = bool(cfg["trace"])
    load_start, cpu_start = _loadavg(), _cpu_times()

    from .trace import NullTracer, Tracer, catalyst_phases, stage_totals, stream_progress

    tracer = Tracer() if traced else NullTracer()
    import __spark_entry__ as entry
    from boat_etl_pyspark_spark import plans, session

    with tracer.span("session.get_spark"):
        spark = session.get_spark("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.sparkContext.setLogLevel("ERROR")
    if traced:
        _install_tracing(tracer, spark)

    names = ops_of(workload)
    query_ops = QueryOps(spark, cfg["fixtures"], entry, cfg["oracle_cache"])
    pipeline_ops = None
    if PIPELINE_OP in names:
        # run_pipeline's Arrow UDF needs the package shipped to the
        # Python workers, which tune() does; without it the workers
        # cannot import the package when the cwd is not the repo root.
        session.tune(spark)
        pipeline_ops = PipelineOps(spark, cfg["boat_csv"], cfg["out_dir"], cfg["expected"])

    def ops_for(name: str):
        return pipeline_ops if name == PIPELINE_OP else query_ops

    op_id = 0
    failures: dict[int, str] = {}
    op_names: dict[int, str] = {}
    op_counts: dict[int, dict] = {}
    measure_s = 0.0  # traced-run bookkeeping inside the window
    storage_mb = 0.0

    def one_pass(pass_no: int, latencies: list[float], op_cpu: list[float]) -> int:
        nonlocal op_id, measure_s, storage_mb
        released = 0
        if workload in RELEASE_CACHES_EACH_PASS:
            released = plans.release_caches(spark)
        for name in pass_order(workload, cfg["seed"], pass_no):
            op_id += 1
            op_names[op_id] = name
            tracer.op = op_id
            if traced:
                m0 = time.perf_counter()
                stage0, cache0 = dag.nextStageId(), _cache_entries()
                tracer.streams.clear()
                measure_s += time.perf_counter() - m0
            df = None
            c0 = _group_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    df = ops_for(name).run(op_id, name, tracer, collect=pass_no == 0)
            except Exception:  # counted against ok_share; the loop goes on
                failures[op_id] = traceback.format_exc(limit=3)[-600:]
            latencies.append(time.perf_counter() - t0)
            op_cpu.append(_group_cpu_s() - c0)
            if traced:
                m0 = time.perf_counter()
                counts = stage_totals(spark, stage0, dag.nextStageId())
                if df is not None:
                    counts |= catalyst_phases(df)
                counts |= stream_progress(tracer.streams)
                counts["cache_builds"] = max(0, _cache_entries() - cache0)
                op_counts[op_id] = counts
                storage_mb = max(storage_mb, _storage_mb(spark))
                measure_s += time.perf_counter() - m0
        tracer.op = None
        return released

    if traced:
        dag = spark.sparkContext._jsc.sc().dagScheduler()
    session_s = time.monotonic() - t_start
    cold_latencies: list[float] = []
    one_pass(0, cold_latencies, [])
    setup_wall_s = time.monotonic() - t_start
    setup_cpu_s = _group_cpu_s()

    latencies: list[float] = []
    op_cpu: list[float] = []
    first_warm = op_id + 1
    measure_s = 0.0
    released = 0
    passes = 0
    pass_s: list[float] = []
    pass_steal: list[float] = []
    cut_short = False
    w0 = time.perf_counter()
    n_passes = warm_passes(workload, cfg["seconds"])
    while passes < n_passes:
        if passes and time.monotonic() - t_start >= LATEST_WINDOW_END_S:
            cut_short = True
            break
        passes += 1
        p0, m0, host0 = time.perf_counter(), measure_s, _cpu_times()
        released += one_pass(passes, latencies, op_cpu)
        pass_s.append(time.perf_counter() - p0 - (measure_s - m0))
        pass_steal.append(_steal_share(host0, _cpu_times()))
    window_s = time.perf_counter() - w0 - measure_s
    warm_ops = set(range(first_warm, op_id + 1))
    # A pass runs every op once; its CPU time is the sum of its ops'.
    # The median pass leaves out the first warm pass, which runs slower
    # (the JIT is still compiling, and its noop writes take code paths
    # the cold pass did not), and one pass that met a collection.
    n_ops = len(names)
    pass_cpu_s = [sum(op_cpu[i:i + n_ops]) for i in range(0, len(op_cpu), n_ops)]
    ops_per_cpu_s = n_ops / statistics.median(pass_cpu_s)
    ops_per_s = n_ops / statistics.median(pass_s)

    # read before the check, which loads DuckDB and the oracle results
    sc = spark.sparkContext
    peak_rss = _peak_rss_mb(sc._gateway.proc.pid)

    # correctness, outside the timed window; a query whose collected
    # output mismatches fails every op of that query in the run
    c0 = time.perf_counter()
    bad = set(failures)
    mismatches = {}
    problems_by_op = query_ops.check(op_names)
    if pipeline_ops:
        problems_by_op |= pipeline_ops.check(op_names)
    for op, problems in problems_by_op.items():
        if problems:
            mismatches[op] = problems
            same = [i for i, n in op_names.items() if n == op_names[op]]
            bad.update([op] if op_names[op] == PIPELINE_OP else same)
    check_s = time.perf_counter() - c0
    n_attempted, n_failed = op_id, len(bad)

    settings = {
        "nproc": os.cpu_count(),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "heap": sc.getConf().get("spark.driver.memory"),
        "loadavg_start": load_start,
        "loadavg_end": _loadavg(),
        "cpu_steal_share": _steal_share(cpu_start, _cpu_times()),
        "spark": spark.version,
    }
    tail = tail_percentile(latencies)
    result = {
        "attempted": n_attempted,
        "failed": n_failed,
        "metrics": {
            "setup_s": setup_cpu_s,
            "ops_per_cpu_s": ops_per_cpu_s,
            "peak_rss_mb": peak_rss["python"] + peak_rss["jvm"],
            "ok_share": (n_attempted - n_failed) / n_attempted,
        },
        "detail": {
            "workload": workload,
            "seed": cfg["seed"],
            "settings": settings,
            # wall-clock figures: they follow the host's steal, see README
            "wall": {
                "setup_s": setup_wall_s,
                "ops_per_s": ops_per_s,
                "latency_p50_s": statistics.median(latencies),
                "latency_tail": (
                    {"percentile": tail[0], "value_s": tail[1], "samples": len(latencies)}
                    if tail else None
                ),
            },
            "peak_rss_mb": peak_rss,
            "warm_passes": passes,
            "window_cut_short": cut_short,
            "pass_s": pass_s,
            "pass_cpu_s": pass_cpu_s,
            "pass_steal_share": pass_steal,
            "cold_latency_s": dict(zip(pass_order(workload, cfg["seed"], 0), cold_latencies)),
            "warm_ops": len(warm_ops),
            "op_samples": [[op_names[i], round(w, 4), round(c, 3)]
                           for i, w, c in zip(sorted(warm_ops), latencies, op_cpu)],
            "window_s": window_s,
            "samples": len(op_cpu),
            "op_cpu_by_op_s": {
                n: statistics.median([t for i, t in zip(sorted(warm_ops), op_cpu) if op_names[i] == n])
                for n in names
            },
            "latency_by_op_s": {
                n: statistics.median([t for i, t in zip(sorted(warm_ops), latencies) if op_names[i] == n])
                for n in names
            },
            "phases_s": {"session": session_s, "setup": setup_wall_s, "window": window_s,
                         "check": check_s},
            "errors": {op_names[k]: v for k, v in list(failures.items())[:5]},
            "mismatches": {op_names[k]: v[:3] for k, v in list(mismatches.items())[:5]},
        },
    }
    if traced:
        from .layers import rollup

        result["layers"] = rollup(
            tracer.spans, warm_ops, op_counts, released, storage_mb, ops_per_cpu_s
        )
        # the same rollup over each query family of a mixed workload;
        # releases and throughput belong to whole passes, so they are left out
        by_family = {}
        for family, family_ops in families_of(workload).items():
            ops_in = {op for op in warm_ops if op_names[op] in family_ops}
            m = rollup(tracer.spans, ops_in, op_counts, 0, storage_mb, ops_per_cpu_s)
            by_family[family] = {
                k: v for k, v in m.items() if k not in ("cache.released", "trace.ops_per_cpu_s")}
        result["detail"]["layers_by_family"] = by_family
    t_stop = time.perf_counter()
    spark.stop()
    result["detail"]["phases_s"]["stop"] = time.perf_counter() - t_stop
    with open(cfg["out"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
