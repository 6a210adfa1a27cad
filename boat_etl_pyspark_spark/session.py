"""SparkSession construction and per-session tuning.

The driver (and bench.py) may hand us an existing session, so the
scale-relevant knobs that are runtime-settable are applied by
``tune()`` rather than builder-time config. Everything here is plain
public Spark configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to any session we receive. These are
# the 100TB-posture defaults scaled to local mode: AQE owns runtime
# shuffle sizing (coalescing + skew splitting), Arrow accelerates any
# pandas-UDF boundary, and UTC pins timestamp semantics so results are
# reproducible against the DuckDB oracle and across clusters.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # permissive semantics to match the DuckDB oracle: out-of-range
    # element_at -> NULL, silent casts (Spark 4 defaults ANSI on)
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # local-mode friendly broadcast threshold; on a real cluster this
    # would be raised alongside executor memory.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # stateful streaming can't use AQE, so the state-store partition
    # count IS this setting; batch queries are unaffected because AQE
    # re-coalesces. Sized for local mode — a cluster deployment scales
    # it with executor count.
    "spark.sql.shuffle.partitions": "32",
    # events.parquet has shipped with TIMESTAMP(NANOS), which the
    # vectorized reader rejects; reading nanos as long is harmless for
    # every other table and static here keeps load_table from mutating
    # shared-session conf mid-query (round-3 advice).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


_SHIPPED: set[str] = set()


def _shm_has_headroom() -> bool:
    """True when the RAM-backed tier exists with >= 1 GiB free, the
    same guard as ``streaming.events.scratch_dir`` — a small-tmpfs
    host degrades to /tmp instead of ENOSPC-ing a managed-table
    write."""
    if not os.path.isdir("/dev/shm"):
        return False
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return False
    return st.f_bavail * st.f_frsize >= 1 << 30


def _ship_package(spark: SparkSession) -> None:
    """Make ``boat_etl_pyspark_spark`` importable on executor Python
    workers regardless of the hosting driver's cwd/PYTHONPATH.

    Pandas UDFs defined at module level are cloudpickled BY REFERENCE,
    so the worker must be able to ``import boat_etl_pyspark_spark``. A
    driver launched from another directory (workers inherit the JVM's
    env, fixed at JVM start) would otherwise fail with
    ModuleNotFoundError. ``addPyFile`` of a package zip is the
    cluster-correct answer: the zip ships with the app and lands on
    every worker's sys.path — same mechanism as ``--py-files``."""
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED:
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # Content-addressed stable path: executors fetch the zip LAZILY
    # from this original location (removing it after addPyFile breaks
    # the first task's dependency fetch), so the file must outlive the
    # call — but a per-session temp name would leak one zip per
    # session. A deterministic zip (fixed entry timestamps) named by
    # its own hash is reused by every session running the same code.
    fd, tmp = tempfile.mkstemp(prefix="boat_etl_pyspark_spark_", suffix=".zip.part")
    os.close(fd)
    with zipfile.ZipFile(tmp, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                info = zipfile.ZipInfo(rel, date_time=(2020, 1, 1, 0, 0, 0))
                with open(full, "rb") as f:
                    z.writestr(info, f.read())
    with open(tmp, "rb") as f:
        digest = hashlib.md5(f.read()).hexdigest()[:16]
    zpath = os.path.join(
        tempfile.gettempdir(), f"boat_etl_pyspark_spark_{digest}.zip"
    )
    if os.path.exists(zpath):
        os.remove(tmp)
    else:
        os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    _SHIPPED.add(sc.applicationId)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be fixed by the hosting driver; never fail
            # a query because a tuning knob was locked.
            pass
    try:
        _ship_package(spark)
    except Exception:
        # Shipping is best-effort: if the context refuses addPyFile the
        # in-repo launch path (cwd importable) still works.
        pass
    return spark


def isolated_session(spark: SparkSession, confs: dict[str, str] | None = None) -> SparkSession:
    """Clone ``spark`` into a session with isolated SQL conf (shared
    SparkContext and cached data), apply the standard tuning, then any
    ``confs`` overrides.

    Used wherever a plan needs a non-default conf (e.g. a streaming
    query's state-store partition count, which is baked into the
    checkpoint at first start): setting it on a clone leaves the shared
    session untouched, so concurrent queries on the caller's session
    never observe another query's width."""
    s = spark.newSession()
    tune(s)
    for k, v in (confs or {}).items():
        s.conf.set(k, v)
    return s


def get_spark(app_name: str = "boat-etl-pyspark-spark",
              cpus: int | None = None) -> SparkSession:
    """Create (or fetch) a local session sized from the environment,
    tuned by ``tune()`` (which also ships the package to the Python
    workers).

    ``SPARK_GRAFT_CPUS`` (default 32) controls local parallelism, per
    the driver contract. The shuffle width is ``tune()``'s pinned
    ``spark.sql.shuffle.partitions``.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # 8g capped the 183-query x 3-rep bench sweep at its own heap
        # (JVM RSS measured 8.9 GB = the limit): GC churn and persist
        # spills slowed unrelated queries mid-sweep. The container has
        # 128 GiB; 32g leaves storage memory for the session caches.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # ~550 codegen'd stages exhaust the default 240m JIT code
        # cache; once full, HotSpot stops compiling and later queries
        # run partially interpreted (observed: identical plans 3x
        # slower late in a long sweep than in a fresh session).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        .config("spark.ui.enabled", "false")
        # keep managed tables (bucketing tests etc.) out of the repo
        # tree, on the RAM-backed scratch tier when one exists (same
        # policy as streaming.events.scratch_dir: ephemeral local-mode
        # artifacts; a cluster deployment sets a real warehouse path)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                ("/dev/shm/spark_graft_warehouse"
                 if _shm_has_headroom()
                 else "/tmp/spark_graft_warehouse"),
            ),
        )
    )
    return tune(builder.getOrCreate())
