"""Invariants of the curation operators that the row-level oracle
compare can't express directly: conservation (packing loses no
tokens), partition (every doc gets exactly one upsert action / split),
and stability (hash split unchanged by corpus growth)."""

from __future__ import annotations

from pyspark.sql import functions as F

from boat_etl_pyspark_spark.plans import curate
from boat_etl_pyspark_spark.sources.readers import load_table
from tests.conftest import SF_CORRECTNESS


def test_packing_conserves_tokens_and_docs(spark):
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    totals = docs.select(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    ).first()
    packed = curate.curate_pack_sequences(spark, SF_CORRECTNESS)
    got = packed.select(
        F.sum("n_docs").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    ).first()
    assert got.n_docs == totals.n_docs
    assert got.n_tokens == totals.n_tokens


def test_upsert_actions_partition_the_keyspace(spark):
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    n = docs.count()
    res = curate.curate_corpus_upsert(spark, SF_CORRECTNESS)
    # every key exactly once
    assert res.count() == res.select("doc_id").distinct().count() == n
    by_action = {r.action: r.c for r in res.groupBy("action").agg(F.count("*").alias("c")).collect()}
    expect_insert = docs.where("doc_id % 10 = 0").count()
    expect_update = docs.where("doc_id % 10 = 5").count()
    assert by_action.get("insert", 0) == expect_insert
    assert by_action.get("update", 0) == expect_update
    assert by_action.get("keep", 0) == n - expect_insert - expect_update


def test_split_is_stable_under_corpus_growth(spark):
    """A document's split must not change when other documents are
    added — the property that makes hash splits trustworthy over a
    growing corpus (rand()-based splits fail it)."""
    full = {
        r.doc_id: r.split
        for r in curate.curate_train_split(spark, SF_CORRECTNESS).collect()
    }
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    docs.where("doc_id % 3 = 0").createOrReplaceTempView("__docs_subset")
    subset = {
        r.doc_id: r.split
        for r in spark.sql(
            curate._SPLIT_SPARK.format(docs="__docs_subset")
        ).collect()
    }
    assert subset == {k: v for k, v in full.items() if k % 3 == 0}
