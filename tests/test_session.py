"""``get_spark`` returns a session that ``tune()`` has already applied:
the runtime confs are set and the package is shipped to the Python
workers, so a pandas UDF works without a separate ``tune()`` call.
Its default driver heap is sized from the host's available memory."""

from __future__ import annotations


def test_get_spark_ships_the_package(spark, monkeypatch):
    from boat_etl_pyspark_spark import session

    calls = []
    monkeypatch.setattr(session, "_ship_package", calls.append)
    got = session.get_spark("boat-etl-pyspark-spark-tests", cpus=8)
    assert calls == [got]


def test_get_spark_applies_runtime_confs(spark):
    from boat_etl_pyspark_spark import session

    spark.conf.set("spark.sql.shuffle.partitions", "7")
    got = session.get_spark("boat-etl-pyspark-spark-tests", cpus=8)
    for key, value in session._RUNTIME_CONFS.items():
        assert got.conf.get(key) == value, key
    assert got.conf.get("spark.sql.shuffle.partitions") == "32"


def _meminfo(available_gib: float) -> str:
    kb = int(available_gib * 1024 * 1024)
    return (
        "MemTotal:       16479424 kB\n"
        "MemFree:        15060800 kB\n"
        f"MemAvailable:   {kb} kB\n"
        "Buffers:          104516 kB\n"
    )


def test_driver_memory_is_half_of_available_in_whole_gib():
    from boat_etl_pyspark_spark.session import driver_memory_for

    # 0.75 GiB rounds down to 0 and is raised to the 1g floor
    assert driver_memory_for(_meminfo(1.5)) == "1g"
    # a 16 GB host: 7.9 GiB rounds down, leaving room for off-heap
    assert driver_memory_for(_meminfo(15.8)) == "7g"
    # a 128 GiB host keeps the 32g cap
    assert driver_memory_for(_meminfo(128)) == "32g"
