"""Table sources.

The test fixture is one parquet file per table (TESTDATA.md). Parquet
is read natively so Catalyst gets predicate pushdown, column pruning
and the vectorized reader for free; at 100 TB the same call reads a
partitioned directory tree and partition pruning applies unchanged.

Schema inference reads the parquet footer in a Spark job. A regular
file's footer is read once per file version per process: the inferred
schema is kept per path with the file's ``(mtime_ns, size, inode)``,
and later loads of the unchanged file hand it back to the reader, which
then launches no job. Directories and paths ``os.stat`` cannot see
(non-local filesystems) infer on every call, because their stat does
not change when a file inside them is rewritten.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# path -> ((st_mtime_ns, st_size, st_ino), inferred schema). A schema,
# never a DataFrame: it holds no Spark resources, so it outlives
# sessions and cache releases. One entry per path; a rewritten file
# replaces its entry.
_SCHEMAS: dict[str, tuple[tuple[int, int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    file is new or changed since the last read in this process."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    ``events.parquet`` stores its ``ts`` as parquet TIMESTAMP(NANOS),
    which Spark's vectorized reader rejects; ``nanosAsLong`` (a static
    session default — see ``session._RUNTIME_CONFS``) reads the nanos
    as a long, and this rebuilds a microsecond TimestampType column
    (matching DuckDB's truncate-to-micros behavior).
    """
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name != "events":
        return df
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    # Parquet written without isAdjustedToUTC (e.g. rewritten by Arrow)
    # reads back as TIMESTAMP_NTZ; normalize to session-tz TimestampType
    # so downstream unix_micros/window ops see one timestamp semantic.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df
