"""Structured Streaming over the ``events`` fixture.

The fixture is a static parquet file, but the queries here run as
REAL streaming jobs: file-source ``readStream`` → event-time
transformations (watermark + tumbling/sliding/session windows) →
``writeStream`` with an ``availableNow`` trigger into a memory sink.
``availableNow`` processes the backlog as a finite set of micro-
batches and stops — so a query over the fixture terminates and the
memory table holds the final result, which the DuckDB oracle checks
against a pure-batch sessionization/bucketing computation.

At production scale the same plans run unmodified on an unbounded
source (Kafka / file arrival): the watermark bounds state, session
state is merge-on-event, and aggregation state is partitioned by
group key across executors.

Aggregations use ``complete`` output mode so the memory table equals
the batch answer; append-mode watermark semantics (late-data drop,
held-back tail windows) are exercised separately in tests.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

def _events_schema_and_time(src_file: str | None):
    """Schema + event-time builder matched to the fixture's physical
    timestamp unit. The generator has shipped ``ts`` both as parquet
    TIMESTAMP(NANOS) (Spark: long under nanosAsLong) and as
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark: TIMESTAMP_NTZ) —
    a hardcoded schema silently mis-scales one of them, so probe the
    footer and build accordingly. ``src_file=None`` (no file arrived
    yet) assumes the current generator's micros/NTZ layout."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampNTZType

    if src_file is None:
        unit = "us"
    else:
        t = pq.ParquetFile(src_file).schema_arrow.field("ts").type
        unit = getattr(t, "unit", None)
    if unit == "ns":
        ts_field, ev = (
            StructField("ts", LongType()),
            F.timestamp_micros(F.expr("ts DIV 1000")),
        )
    else:  # us (or ms) timestamps read natively as NTZ
        ts_field, ev = (
            StructField("ts", TimestampNTZType()),
            F.col("ts").cast("timestamp"),
        )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            ts_field,
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    return schema, ev

def scratch_dir() -> str:
    """Fast local scratch for stream-harness artifacts: arrival dirs,
    checkpoints and accumulator sinks. These are process-lifetime
    replay intermediates, so the RAM-backed tier is the right home
    when one exists (guide §6: micro-batch commit latency is offset
    log + commit log + state flush fsyncs, measured ~0.25s/batch on
    ext4 /tmp vs tmpfs). At cluster scale the checkpoint location is
    whatever durable store the deployment chooses — override here
    with ``SPARK_GRAFT_STREAM_TMP``. The tmpfs tier is only chosen
    when it has real headroom (>= 1 GiB free), so a small-tmpfs or
    memory-pressured host degrades to the normal temp dir instead of
    ENOSPC-ing mid-stream."""
    d = os.environ.get("SPARK_GRAFT_STREAM_TMP")
    if d:
        return d
    if os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 1 << 30:
                return "/dev/shm"
        except OSError:
            pass
    return tempfile.gettempdir()


_SINK_IDS = itertools.count()

# Most-recent memory-sink tables kept live; older ones are dropped by
# ``run_stream_to_memory`` (their result rows live in driver memory).
# Sized above the number of registered streaming queries so no table
# still reachable through a returned DataFrame is ever dropped within
# one correctness/bench sweep rep.
_ACTIVE_SINKS: list = []
_MAX_LIVE_SINKS = 24


def _stream_dir_for(sf_dir: str) -> str:
    """The file stream source wants a directory of files; the fixture
    is a single parquet file. Expose it through a symlink in a stable
    temp directory (real deployments stream an arrival directory or
    Kafka — this shim exists only for the single-file fixture)."""
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    d = os.path.join(scratch_dir(), f"spark_graft_stream_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    src = os.path.join(sf_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return d


def stream_dir_multi(sf_dir: str, n: int = 3) -> str:
    """Split the single-file fixture into ``n`` event-time-ordered
    parquet files so ``availableNow`` + ``maxFilesPerTrigger=1`` yields
    ``n`` micro-batches — the shape that exercises cross-batch state
    (foreachBatch accumulation, watermark advancement) that a
    single-file backlog cannot. Built once per (sf_dir, n, source
    mtime) in the temp dir — the source's mtime is part of the cache
    key, so a regenerated fixture invalidates the split instead of
    silently reusing stale data. Each split file's mtime is set
    strictly increasing in event-time order: the file stream source
    orders micro-batches by modification time, so without the explicit
    ``os.utime`` the near-simultaneous writes would leave batch order
    (and hence watermark advancement) to timestamp-granularity luck.
    The build is staged in a pid-suffixed dir and renamed so a
    concurrent builder can never observe a half-written directory."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    src_mtime = os.stat(src).st_mtime_ns
    key = hashlib.md5(f"{sf_dir}:{n}:{src_mtime}".encode()).hexdigest()[:12]
    d = os.path.join(scratch_dir(), f"spark_graft_streamN_{key}")
    if os.path.isdir(d):
        return d
    stage = f"{d}.build.{os.getpid()}"
    os.makedirs(stage, exist_ok=True)
    table = pq.read_table(src)
    table = table.take(pc.sort_indices(table, sort_keys=[("ts", "ascending")]))
    step = (table.num_rows + n - 1) // n
    base = time.time()
    for i in range(n):
        path = os.path.join(stage, f"events_{i}.parquet")
        pq.write_table(table.slice(i * step, step), path)
        os.utime(path, (base + i, base + i))
    try:
        os.rename(stage, d)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)  # another builder won
    return d


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    *,
    dir_override: str | None = None,
    max_files_per_trigger: int | None = None,
    state_partitions: int = 8,
    reuse_session: bool = False,
) -> DataFrame:
    """File-source stream of events with a proper event-time column.

    ``dir_override`` streams an arbitrary directory of event files
    (used by the watermark tests to feed files in event-time order);
    ``max_files_per_trigger`` bounds each micro-batch so the watermark
    advances between batches.

    The stream is built on an ISOLATED session clone pinned to
    ``state_partitions`` shuffle partitions: every stateful operator
    keeps one state store per shuffle partition per micro-batch, so the
    batch-oriented session default (32 here) multiplies state-store
    maintenance ~4x beyond the fixture's key cardinality (measured
    15.2s -> 3.3s on the stream-stream join at sf0.1), and the width is
    baked into the checkpoint at first start — it must be an explicit
    per-stream choice. The clone leaves the caller's session conf
    untouched for concurrent queries. Results are partition-count
    independent (pinned by tests/test_determinism). Downstream static
    DataFrames joined to the stream must come from
    ``stream_df.sparkSession``; a second stream joined to the first
    (stream-stream join) must pass ``reuse_session=True`` with the
    first stream's session so both sides share one plan context.
    """
    from ..session import isolated_session

    if not reuse_session:
        # The default HDFS-backed state store: RocksDB was measured and
        # not adopted (OPTIMIZATION_r11.md).
        confs = {"spark.sql.shuffle.partitions": str(state_partitions)}
        spark = isolated_session(spark, confs)
    src_dir = dir_override or _stream_dir_for(sf_dir)
    probe = sorted(
        f for f in os.listdir(src_dir) if f.endswith(".parquet")
    )
    # Cold start: an empty arrival directory is legal for a file
    # stream; fall back to the current generator's micros/NTZ schema
    # rather than failing before the stream is even defined.
    schema, ev_time = _events_schema_and_time(
        os.path.join(src_dir, probe[0]) if probe else None
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(src_dir)
    return raw.withColumn("ev_time", ev_time)


def stateful_user_totals(stream_df: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count + value
    cents, kept in explicit GroupState across micro-batches
    (applyInPandasWithState — the escape hatch for stateful semantics
    the built-in windows can't express). Each batch emits the updated
    running totals for the users it touched; state is partitioned by
    user_id across executors and bounded by the key cardinality."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import numpy as np

        n, cents_sum = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # mirror SUM(TRY_CAST(round(value*100) AS BIGINT)): NULL,
            # NaN and +/-Inf contribute nothing (astype would raise on
            # them), finite values contribute exact rounded cents
            vals = pdf["value"].to_numpy(dtype="float64") * 100.0
            # ROUND() in both engines is half AWAY from zero — np.rint
            # would round half to even, off by one cent on exact-.5
            # values like value=0.125 (round-7 ADVICE). The naive
            # abs+0.5 replica is ALSO wrong twice (round-8 ADVICE):
            # 0.49999999999999994+0.5 rounds UP to 1.0 in float64, and
            # for odd integer cents in [2^52, 2^53) the +0.5 tie goes
            # to the EVEN neighbor. floor and the subtraction below are
            # exact in float64, so comparing the exact fractional part
            # against 0.5 matches ROUND() on all finite doubles.
            a = np.abs(vals)
            fl = np.floor(a)
            rounded = np.copysign(fl + (a - fl >= 0.5), vals)
            # TRY_CAST also NULLs BIGINT overflow, not just NaN/Inf;
            # mirror its exact bounds [-2^63, 2^63) — the old 9.2e18
            # guard dropped finite doubles in [9.2e18, 2^63) that
            # TRY_CAST accepts.
            ok = (
                np.isfinite(rounded)
                & (rounded >= -9223372036854775808.0)
                & (rounded < 9223372036854775808.0)
            )
            cents_sum += int(rounded[ok].astype("int64").sum())
        state.update((n, cents_sum))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_sum": [cents_sum / 100.0]}
        )

    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id BIGINT, n_events BIGINT, value_sum DOUBLE",
        stateStructType="n BIGINT, cents_sum BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(
    result: DataFrame,
    output_mode: str = "complete",
    timeout_sec: int = 300,
) -> DataFrame:
    """Run a finite (availableNow) streaming query into a memory sink
    and return the final table as a batch DataFrame.

    The state-store partition width is a property of the stream's
    (isolated) session — pinned in ``read_events_stream`` — so nothing
    here touches shared conf."""
    import shutil

    spark = result.sparkSession
    name = f"__stream_sink_{next(_SINK_IDS)}"
    # explicit checkpoint on the fast scratch tier (with a pid in the
    # name so concurrent processes never collide), removed as soon as
    # the finite query terminates — the memory sink holds the result
    ckpt = os.path.join(
        scratch_dir(), f"spark_graft_memck_{os.getpid()}_{name}"
    )
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    # Memory-sink tables hold their full result rows in driver memory
    # and every call mints a fresh name, so a long sweep (bench: every
    # streaming query x 3 reps on one session) would accumulate them
    # without bound. Keep a window of the most recent sinks (wide
    # enough that every registered streaming query's CURRENT table
    # stays live) and drop the oldest beyond it — the previous rep's
    # tables, whose DataFrames are no longer reachable.
    _ACTIVE_SINKS.append((spark, name))
    while len(_ACTIVE_SINKS) > _MAX_LIVE_SINKS:
        old_spark, old_name = _ACTIVE_SINKS.pop(0)
        try:
            old_spark.catalog.dropTempView(old_name)
        except Exception:
            pass  # session already stopped
    return spark.table(name)
