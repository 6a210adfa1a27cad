"""``get_spark`` returns a session that ``tune()`` has already applied:
the runtime confs are set and the package is shipped to the Python
workers, so a pandas UDF works without a separate ``tune()`` call."""

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
