"""Event-time domain-edge net for the watermarked streaming family.

Structured Streaming initializes every stream's watermark at epoch 0,
so a PRE-EPOCH event time is late-by-construction and silently dropped
by stateful operators in their very first micro-batch, while a batch
oracle has no such notion — the round-8 probe's class 2, bisected to
the 1677-09-22 row (commit b285e49). The round-9 fix bounds event time
to the ingest contract's validity window [2000-01-01, 2100-01-01)
(``contract.ts_valid``) with the SAME predicate in plan and oracle: a
post-1970 lower edge makes the watermark-initialization asymmetry
unobservable by construction.

The fixture keeps the REAL sf0.001 rows and appends rows at both
timestamp domain edges (1677-09-22 / 2262-04-11 — the int64-nanos
range ends), at both validity-window edges, and just inside them; the
net replays every watermarked query the probe flagged.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from tests.test_oracle_parity import frames_equal

_WATERMARKED_QUERIES = (
    "stream_session_windows",
    "stream_chained_agg",
    "stream_append_mode_windows",
    "stream_checkpoint_restart",
    "stream_dedup_within_watermark",
    "stream_late_data_audit",
    "stream_stream_left_outer",
    "stream_stream_full_outer",
)


@pytest.fixture(scope="module")
def domain_edge_events_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_domain_edge_events"))
    for p in glob.glob(os.path.join(SF_SMOKE, "*.parquet")):
        if os.path.basename(p) != "events.parquet":
            shutil.copy(p, os.path.join(d, os.path.basename(p)))
    real = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    stamps = [
        np.datetime64("1677-09-22T00:12:43.145224", "us"),  # nanos-min edge
        np.datetime64("1969-12-31T23:59:59.999999", "us"),  # pre-epoch
        np.datetime64("1999-12-31T23:59:59.999999", "us"),  # just below LO
        np.datetime64("2000-01-01T00:00:00.000000", "us"),  # LO (kept)
        np.datetime64("2024-01-15T12:00:00.000000", "us"),  # in-corpus (kept)
        np.datetime64("2099-12-31T23:59:59.999999", "us"),  # HI-1us (kept)
        np.datetime64("2100-01-01T00:00:00.000000", "us"),  # HI (dropped)
        np.datetime64("2262-04-11T23:47:16.854775", "us"),  # nanos-max edge
        None,                                               # NULL ts
    ]
    n = len(stamps)
    extra = pa.table(
        {
            "event_id": pa.array(range(50_000_000, 50_000_000 + n), pa.int64()),
            "ts": pa.array(stamps, pa.timestamp("us")),
            "user_id": pa.array([i % 4 for i in range(n)], pa.int64()),
            "event_type": pa.array(
                [("purchase", "view")[i % 2] for i in range(n)]
            ),
            "value": pa.array([float(i + 1) for i in range(n)], pa.float64()),
            "props": pa.array(['{"k": 1}'] * n),
        }
    )
    merged = pa.concat_tables([real.select(extra.column_names), extra])
    pq.write_table(merged, os.path.join(d, "events.parquet"), version="2.6")
    return d


@pytest.mark.parametrize("name", _WATERMARKED_QUERIES)
def test_watermarked_query_parity_on_domain_edges(
    spark, oracle, domain_edge_events_dir, name
):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        spark_pd = m.queries()[name](spark, domain_edge_events_dir).toPandas()
        con = oracle(domain_edge_events_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)
