"""Table sources.

The test fixture is one parquet file per table (TESTDATA.md). Parquet
is read natively so Catalyst gets predicate pushdown, column pruning
and the vectorized reader for free; at 100 TB the same call reads a
partitioned directory tree and partition pruning applies unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    ``events.parquet`` stores its ``ts`` as parquet TIMESTAMP(NANOS),
    which Spark's vectorized reader rejects; ``nanosAsLong`` (a static
    session default — see ``session._RUNTIME_CONFS``) reads the nanos
    as a long, and this rebuilds a microsecond TimestampType column
    (matching DuckDB's truncate-to-micros behavior).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(path)
    df = spark.read.parquet(path)
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
