"""Bit-reproducibility: the float-producing aggregates must return
identical bits under different parallelism — the property that makes
results stable across cluster sizes (and makes the DuckDB oracle an
exact check). This is the integer-cents / co-moment design under
test: a raw sum(double) would fail it."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

FLOAT_QUERIES = [
    "q1_pricing_summary",
    "window_running_spend",
    "agg_price_moments",
    "agg_qty_price_correlation",
    "sim_bruteforce_topk",
    "date_daily_event_stats",
    # cosine verify path over LSH candidates (stage caches are shared
    # across the two runs; the candidate join + integer dot re-execute
    # at each width)
    "dedup_embedding_cosine",
    # round-3 integer fixed-point paths: interpolation, PageRank,
    # blocked-matmul scores, distributed global rank
    "interp_linear_fill",
    "graph_pagerank_nations",
    "sim_blocked_matmul_topk",
    "agg_equidepth_histogram",
    # round-5 batch 9-10: per-term nano floors (theil, bigram LM) and
    # fixed-order pivoted closed forms (levene) — the properties that
    # make these statistics parallelism-independent
    "agg_theil_index",
    "text_bigram_perplexity",
    "agg_levene_variance_test",
]


@pytest.mark.parametrize("name", FLOAT_QUERIES)
def test_identical_results_across_parallelism(spark, name):
    import __spark_entry__ as m

    # raw registry, not queries(): the tuned wrapper pins
    # shuffle.partitions and would make this test vacuous
    q = m._QUERIES[name]

    def run(partitions: int):
        before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        try:
            rows = q(spark, SF_SMOKE).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
        return sorted(map(tuple, rows))

    assert run(3) == run(29), f"{name} is partitioning-dependent"


# Round-4 additions whose numeric paths are rank-, quantization- or
# partition-partial-based. These persist intermediates (the rank
# correctness fence, the MAD med/dev tables), and Spark's CacheManager
# matches plans independently of shuffle width — so caches are
# RELEASED before each run to force a genuine recompute at the new
# parallelism.
RANK_QUERIES = [
    "anomaly_mad_outliers",
    "embed_kmeans_lloyd",
    "embed_gram_matrix",
    "text_bigram_rarity",
    "sim_product_quantize",
    "ts_ohlc_bars",
    "graph_hierarchy_rollup",
    "join_point_in_time",
    "text_source_divergence",
    "curate_dataset_cards",
    # batch 6-7: fixed-point corpus scoring and closed-form statistics
    "agg_linear_regression",
    "window_ewma_spend",
    "embed_pca_power",
    "text_unigram_surprisal",
    "text_boilerplate_strip",
    "curate_importance_weights",
    # batch 8: rank-based and windowed-moment statistics
    "agg_gini_concentration",
    "text_zipf_fit",
    "agg_chi2_independence",
    "events_rate_spike_zscore",
    # batch 9: iterative BFS and windowed/inferential statistics
    "graph_bfs_reachability",
    "agg_welch_ttest",
    "window_rolling_regression",
    # batch 10-11: native recursive CTE; pipeline composition
    "graph_recursive_route_cost",
    "curate_corpus_pipeline_report",
    "join_asof_nearest",
    "text_entropy_per_source",
]


@pytest.mark.parametrize("name", RANK_QUERIES)
def test_round4_identical_results_across_parallelism(spark, name):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.plans import release_caches

    q = m._QUERIES[name]

    def run(partitions: int):
        release_caches(spark)
        before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        try:
            rows = q(spark, SF_SMOKE).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
        return sorted(map(tuple, rows))

    try:
        assert run(3) == run(29), f"{name} is partitioning-dependent"
    finally:
        release_caches(spark)
