"""``load_table`` infers a regular file's schema once per file version:
a second load of the unchanged file launches no Spark job, a rewritten
file is inferred again, and a directory is inferred on every call."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from boat_etl_pyspark_spark.sources.readers import load_table


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _load_counting_jobs(spark, sf_dir, name):
    before = _jobs(spark)
    df = load_table(spark, sf_dir, name)
    return df, _jobs(spark) - before


def test_second_load_of_a_file_launches_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), tmp_path / "t.parquet")
    first, first_jobs = _load_counting_jobs(spark, str(tmp_path), "t")
    second, second_jobs = _load_counting_jobs(spark, str(tmp_path), "t")
    assert first_jobs >= 1
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"x": [1.5], "y": ["z"], "w": [True]}), path)
    again = load_table(spark, str(tmp_path), "t")
    assert again.dtypes == [("x", "double"), ("y", "string"), ("w", "boolean")]
    assert again.collect()[0].asDict() == {"x": 1.5, "y": "z", "w": True}


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_is_a_timestamp_through_the_memo(spark, tmp_path, unit):
    # ns: parquet TIMESTAMP(NANOS), read as a long and rebuilt;
    # us: naive micros (as Arrow writes them), read as timestamp_ntz and cast.
    when = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    pq.write_table(
        pa.table({"event_id": [1], "ts": pa.array([when], pa.timestamp(unit))}),
        tmp_path / "events.parquet",
    )
    first = load_table(spark, str(tmp_path), "events")
    second, jobs = _load_counting_jobs(spark, str(tmp_path), "events")
    assert jobs == 0
    for df in (first, second):
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.selectExpr("unix_micros(ts) AS us").first().us == int(
            (when - dt.datetime(1970, 1, 1)) / dt.timedelta(microseconds=1)
        )


def test_directory_is_inferred_on_every_call(spark, tmp_path):
    table = tmp_path / "t.parquet"
    os.mkdir(table)
    pq.write_table(pa.table({"k": [1, 2]}), table / "part-0.parquet")
    _, first_jobs = _load_counting_jobs(spark, str(tmp_path), "t")
    pq.write_table(pa.table({"k": [1], "extra": ["e"]}), table / "part-0.parquet")
    again, second_jobs = _load_counting_jobs(spark, str(tmp_path), "t")
    assert first_jobs >= 1
    assert second_jobs >= 1
    assert again.columns == ["k", "extra"]
