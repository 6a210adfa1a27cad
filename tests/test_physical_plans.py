"""Physical-plan audits: the properties that decide whether these
plans survive a 100x scale-up. A correctness-green query that full-
scans 14 columns for a 2-column projection, or shuffles a fact table
against a 25-row dimension, is still wrong — these tests pin the
physical shape Catalyst must produce (SURVEY.md §4)."""

from __future__ import annotations

import contextlib
import io
import os

import pytest

from tests.conftest import SF_SMOKE


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as m

    return m.queries()


def test_q1_pushes_filter_and_partial_agg(spark, queries):
    plan = plan_of(queries["q1_pricing_summary"](spark, SF_SMOKE))
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:400]
    # partial (map-side) aggregation before the exchange
    assert plan.count("HashAggregate") >= 2


def test_q1_prunes_columns(spark, queries):
    plan = plan_of(queries["q1_pricing_summary"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema", 1)[1][:400]
    assert "l_comment" not in read_schema  # nonexistent anyway, shape check
    # only the 7 needed columns are read, not the full 11-column table
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q5_broadcasts_dimensions(spark, queries):
    plan = plan_of(queries["q5_region_revenue"](spark, SF_SMOKE))
    # nation/region/supplier must come in as broadcasts, not shuffles
    assert plan.count("BroadcastHashJoin") >= 3


def test_global_topk_avoids_full_sort(spark, queries):
    plan = plan_of(queries["sort_global_top_orders"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_range_join_is_broadcast_nlj(spark, queries):
    plan = plan_of(queries["join_range_value_buckets"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan


def test_semi_and_anti_join_forms(spark, queries):
    semi = plan_of(queries["join_semi_active_customers"](spark, SF_SMOKE))
    anti = plan_of(queries["join_anti_dormant_customers"](spark, SF_SMOKE))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_projection_only_reads_needed_columns(spark, queries):
    plan = plan_of(queries["string_part_catalog"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema", 1)[1][:400]
    assert "p_retailprice" not in read_schema


def test_window_topk_single_shuffle(spark, queries):
    plan = plan_of(queries["window_topk_orders_per_customer"](spark, SF_SMOKE), "simple")
    # one exchange for the window partitioning, no extra shuffles
    assert plan.count("Exchange") == 1
    # rank-limit pushdown: per-partition top-k BEFORE the shuffle, so
    # at scale each map task ships at most k rows per group
    assert plan.count("WindowGroupLimit") == 2


def test_q8_broadcasts_all_dimensions(spark, queries):
    plan = plan_of(queries["q8_market_share"](spark, SF_SMOKE))
    # customer-nation, region, supplier, supplier-nation all broadcast:
    # only the orders/lineitem fact join may shuffle
    assert plan.count("BroadcastHashJoin") >= 4


def test_rolling_range_window_single_shuffle(spark, queries):
    plan = plan_of(queries["window_rolling_24h_value"](spark, SF_SMOKE), "simple")
    assert plan.count("Exchange") == 1  # one hash partition by user_id


def test_boat_pipeline_single_python_stage(spark, tmp_path):
    """The boat pipeline's only Python is the parity line-cleanup UDF;
    the transform section must stay JVM-side column expressions. The
    plan shape does not depend on the data, so it is checked on a
    seeded boat-format CSV, and on the reference input where present."""
    from boat_etl_pyspark_spark.pipeline.boat import (
        clean_lines,
        parse_csv,
        read_raw_lines,
        transform,
    )
    from boat_etl_pyspark_spark.plans import boat_plan
    from perfbench import boatgen

    generated = str(tmp_path / "boat_data.csv")
    boatgen.write_csv(generated, seed=7, rows=200)
    inputs = [generated]
    if os.path.exists(boat_plan._INPUT):
        inputs.append(boat_plan._INPUT)
    for path in inputs:
        df = transform(parse_csv(clean_lines(read_raw_lines(spark, path))))
        plan = plan_of(df, "simple")
        assert plan.count("ArrowEvalPython") == 1, f"{path}:\n{plan}"


def test_curation_filter_and_split_are_map_only(spark, queries):
    """The per-document curation decisions must not shuffle: at corpus
    scale they are pure map passes that fuse into whatever pipeline
    reads the documents."""
    for name in ("curate_train_split", "curate_quality_filter"):
        plan = plan_of(queries[name](spark, SF_SMOKE), "simple")
        assert plan.count("Exchange") == 0, f"{name} should be map-only"


def test_pack_sequences_prefix_sum_plan(spark, queries):
    """Packing must NOT window PARTITION BY lang (parallelism would be
    #languages): the plan is the distributed prefix-sum — a range
    partition into #cores splits, a per-(split, lang) local window,
    and a broadcast of the tiny offsets table. Only bounded-width
    exchanges beyond those may appear (the offsets-side aggregates)."""
    plan = plan_of(queries["curate_pack_sequences"](spark, SF_SMOKE), "simple")
    assert "rangepartitioning(lang" in plan
    assert "hashpartitioning(split_id" in plan
    assert plan.count("BroadcastExchange") == 1
    # no corpus-wide window keyed on lang alone (the skewed form);
    # the lang-only hash partition appears ONLY under the tiny
    # offsets-table window
    heavy = [
        ln
        for ln in plan.splitlines()
        if "hashpartitioning(lang#" in ln and "seq_id" not in ln
    ]
    assert len(heavy) <= 1  # the offsets window, #splits x #langs rows


def _drop_rank_caches(spark):
    """The rank correctness fence persists the numbered relation; a
    prior test may have left it cached, which would make explain()
    show InMemoryTableScan instead of the shape under audit."""
    from boat_etl_pyspark_spark.cache import release_caches

    release_caches(spark)


def test_equidepth_rank_is_distributed(spark, queries):
    """The exact global rank must be the range-partition + broadcast-
    offsets prefix sum. A SinglePartition exchange may appear only on
    the bounded per-partition-counts side (<= #partitions rows), never
    on the fact stream: the fact-side window is partitioned by pid."""
    _drop_rank_caches(spark)
    plan = plan_of(queries["agg_equidepth_histogram"](spark, SF_SMOKE), "simple")
    assert "rangepartitioning(price_cents" in plan
    assert "BroadcastExchange" in plan  # tiny offsets table
    assert "monotonically_increasing_id" in plan  # exchange-free numbering
    # no fact-side window keyed on pid (that shape would re-shuffle
    # the whole fact stream); the only pid-keyed exchange is the
    # bounded partial-counts aggregation (1 row per partition)
    fact_window = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "price_cents" in ln
    ]
    assert not fact_window, fact_window
    assert plan.count("hashpartitioning(pid") <= 1


def test_bloom_prefilter_ends_in_broadcast_semi(spark, queries):
    """The bloom probe is a pure filter on the fact scan; the exact
    finish is a broadcast LEFT SEMI join (no fact shuffle)."""
    plan = plan_of(queries["join_bloom_prefilter"](spark, SF_SMOKE), "simple")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
    assert "xxhash64" in plan  # bitmap probe survived into codegen


def test_blocked_matmul_is_single_python_stage(spark, queries):
    """One MapInPandas stage computes all block scores; only the tiny
    per-block top-k partials reach the window shuffle."""
    plan = plan_of(queries["sim_blocked_matmul_topk"](spark, SF_SMOKE), "simple")
    assert plan.count("MapInPandas") == 1


def test_chunk_dedup_shuffles_hashes_not_text(spark, queries):
    """The corpus-wide first-occurrence window must key on the 32-byte
    md5, so chunk text never crosses the wire."""
    plan = plan_of(queries["text_chunk_dedup"](spark, SF_SMOKE), "simple")
    assert "hashpartitioning(h#" in plan


def test_pagerank_iterations_broadcast_rank(spark, queries):
    """The fixpoint runs driver-side over the bounded (≤ nations²)
    edge summary (OPTIMIZATION_r10.md §1); the final plan must be the
    computed rank relation broadcast-joined to the nation names —
    no per-iteration exchanges survive."""
    plan = plan_of(queries["graph_pagerank_nations"](spark, SF_SMOKE), "simple")
    assert "BroadcastHashJoin" in plan
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan


def test_exact_median_single_pass_plan(spark, queries):
    """The per-status median must be ONE rank pass over the fact with
    the (pid, group) stats broadcast back — no per-group driver loop
    (the round-3 form), no fact-side SinglePartition exchange."""
    _drop_rank_caches(spark)
    plan = plan_of(queries["agg_exact_median_distributed"](spark, SF_SMOKE), "simple")
    assert "rangepartitioning(o_orderstatus" in plan  # grouped range partition
    assert "monotonically_increasing_id" in plan
    assert plan.count("BroadcastExchange") == 2  # (pid, group) stats + counts
    # the only fact-touching exchange is the grouped range repartition;
    # it appears twice in the pre-AQE plan (fact branch + stats branch)
    # and collapses to one ReusedExchange at runtime (verified by
    # explain("formatted") after execution). No other range/global sort.
    n_range = plan.count("rangepartitioning")
    assert 1 <= n_range <= 2
    assert plan.count("rangepartitioning(o_orderstatus") == n_range


def test_rank_consumers_no_fact_single_partition(spark, queries):
    """All three global_rank consumers: a SinglePartition exchange may
    only ever carry the bounded per-partition stats relation, never the
    fact stream (the shape that dies first at 100x)."""
    _drop_rank_caches(spark)
    for name in (
        "agg_equidepth_histogram",
        "agg_exact_median_distributed",
        "agg_customer_ltv_deciles",
    ):
        plan = plan_of(queries[name](spark, SF_SMOKE), "formatted")
        for chunk in plan.split("Exchange")[1:]:
            head = chunk[:200]
            if "SinglePartition" not in head:
                continue
            # the only SinglePartition consumers allowed are the tiny
            # offsets windows whose input came from a groupBy on __pid
            assert "ENSURE_REQUIREMENTS" in head, (name, head)


def test_spatial_grid_join_is_hash_not_nlj(spark, queries):
    """The spatial join must be the bucketed equi form — a raw
    distance theta join would plan as BroadcastNestedLoop and die at
    scale."""
    plan = plan_of(queries["join_spatial_grid"](spark, SF_SMOKE), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_interval_overlap_join_is_hash_not_nlj(spark, queries):
    plan = plan_of(queries["join_interval_overlap"](spark, SF_SMOKE), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_running_distinct_single_exchange(spark, queries):
    """Both window passes (first-occurrence flag, running sum) must
    ride ONE user_id exchange — HashPartitioning(user_id) satisfies
    the (user_id, event_type) clustering of the first window."""
    plan = plan_of(queries["window_running_distinct"](spark, SF_SMOKE), "simple")
    assert plan.count("Exchange") == 1


def test_kmeans_broadcasts_centroids(spark, queries):
    """Every Lloyd iteration joins the corpus against a k x d centroid
    relation — all three joins must be broadcasts; the corpus is never
    sort-merge-shuffled against centroids."""
    plan = plan_of(queries["embed_kmeans_lloyd"](spark, SF_SMOKE), "simple")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_gram_matrix_single_python_stage(spark, queries):
    """One MapInPandas computes all partition-local matmul partials;
    only d(d+1)/2 rows per partition reach the shuffle."""
    plan = plan_of(queries["embed_gram_matrix"](spark, SF_SMOKE), "simple")
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange") == 1


def test_snapshot_diff_single_outer_join(spark, queries):
    plan = plan_of(queries["io_snapshot_diff"](spark, SF_SMOKE), "simple")
    assert "FullOuter" in plan
    assert plan.count("Join") == 1


def test_orc_roundtrip_scans_orc(spark, queries):
    plan = plan_of(queries["io_orc_roundtrip"](spark, SF_SMOKE), "simple")
    assert "orc" in plan.lower()


def test_product_quantize_broadcasts_codebook(spark, queries):
    plan = plan_of(queries["sim_product_quantize"](spark, SF_SMOKE), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ewma_single_exchange(spark, queries):
    """row_number, the partition count, and the final groupBy all ride
    ONE o_custkey exchange — HashPartitioning(o_custkey) satisfies
    every downstream requirement."""
    plan = plan_of(queries["window_ewma_spend"](spark, SF_SMOKE), "simple")
    assert plan.count("Exchange") == 1
    assert "pow(" not in plan  # weights are bit shifts, not pow()


def test_ols_prunes_and_partial_aggregates(spark, queries):
    plan = plan_of(queries["agg_linear_regression"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema", 1)[1][:200]
    # only the regression inputs are read from the 11-column table
    assert "l_quantity" in read_schema and "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema and "l_shipdate" not in read_schema
    # map-side partial moments before the one exchange
    assert plan.count("HashAggregate") >= 2


def test_pca_power_runs_corpus_matmul_once(spark, queries):
    """The corpus matmul runs once (a bounded 136-row pull feeding the
    driver-side iterations — OPTIMIZATION_r10.md §1): the returned
    plan is the computed eigenvector relation, with no MapInPandas
    over the embeddings left in it."""
    plan = plan_of(queries["embed_pca_power"](spark, SF_SMOKE), "simple")
    assert "MapInPandas" not in plan
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan


def test_boilerplate_strip_shuffles_hashes_for_frequency(spark, queries):
    """The block-frequency aggregate groups on md5 keys; the corpus
    text only flows through the per-document reassembly side."""
    plan = plan_of(queries["text_boilerplate_strip"](spark, SF_SMOKE))
    assert "md5" in plan


def test_importance_weights_broadcasts_bucket_table(spark, queries):
    """The 256-row log-ratio table must come in as a broadcast against
    the (doc, bucket) counts — never a corpus-wide sort-merge."""
    plan = plan_of(queries["curate_importance_weights"](spark, SF_SMOKE), "simple")
    assert "BroadcastHashJoin" in plan


def test_gini_rank_no_single_partition_exchange(spark, queries):
    """The Gini rank must come from the range-partitioned global_rank
    primitive — a SinglePartition exchange would serialize the
    customer table through one task."""
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        plan = plan_of(queries["agg_gini_concentration"](spark, SF_SMOKE))
        assert "rangepartitioning" in plan
        assert "SinglePartition" not in plan.split("rangepartitioning", 1)[0]
    finally:
        release_caches(spark)


def test_chi2_prunes_to_join_and_group_columns(spark, queries):
    plan = plan_of(queries["agg_chi2_independence"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema", 1)[1][:200]
    assert "o_custkey" in read_schema and "o_orderpriority" in read_schema
    assert "o_totalprice" not in read_schema


def test_rate_spike_single_exchange_for_window(spark, queries):
    """Daily rollup exchanges on (event_type, day); the trailing
    window re-clusters on event_type alone — two exchanges total, no
    global sort."""
    plan = plan_of(queries["events_rate_spike_zscore"](spark, SF_SMOKE), "simple")
    assert "SinglePartition" not in plan


def test_bfs_result_is_bounded_local_relation(spark, queries):
    """The BFS fixpoint runs driver-side over the bounded nation-graph
    summary (OPTIMIZATION_r10.md §1): the returned plan is the
    computed distance relation — no per-round joins survive. The
    data-sized edge aggregation is pinned separately via the
    trade-edge build (lineitem⋈orders with broadcast dims)."""
    plan = plan_of(queries["graph_bfs_reachability"](spark, SF_SMOKE), "simple")
    assert "Join" not in plan
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan


def test_rolling_regression_one_window_node(spark, queries):
    """All five power sums must share one frame: a single Window node
    computes them, on the event_type exchange, with no global sort."""
    plan = plan_of(queries["window_rolling_regression"](spark, SF_SMOKE), "simple")
    assert plan.count("Window") == 1
    assert "SinglePartition" not in plan


def test_hybrid_skew_sampled_broadcasts_hot_path(spark, queries):
    """The production skew-join variant must (1) compute its hot set
    from a Sample of the fact side — never a second full frequency
    scan — and (2) broadcast the hot slice while the cold remainder
    takes the pinned sort-merge path."""
    plan = plan_of(queries["join_hybrid_skew_sampled"](spark, SF_SMOKE), "simple")
    assert "Sample" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" in plan


def test_twap_single_user_exchange(spark, queries):
    """The LEAD window and the per-user aggregate must share ONE
    user_id exchange — hashpartitioning(user_id) satisfies both."""
    plan = plan_of(queries["window_time_weighted_avg"](spark, SF_SMOKE), "simple")
    assert plan.count("Exchange") == 1


def test_weighted_median_pushes_bucket_filter_no_global_sort(spark, queries):
    """Pass 2 of the two-pass weighted median must reach the scan with
    a raw-column predicate (round() on cents is not pushable) and the
    fact table must never be globally range-sorted — that is the whole
    point of the histogram-then-refine shape."""
    plan = plan_of(queries["agg_weighted_median_twopass"](spark, SF_SMOKE))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "l_extendedprice" in pushed
    assert "rangepartitioning" not in plan


def test_journey_paths_topk_no_global_sort(spark, queries):
    """The top-20 path cut must ride TakeOrderedAndProject
    (per-partition heaps), never a global sort of all paths."""
    plan = plan_of(queries["events_user_journey_paths"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_batch_diversity_sample_is_topk(spark, queries):
    """The deterministic 32-vector sample must ride
    TakeOrderedAndProject — an ORDER BY + LIMIT over the corpus that
    planned as a global sort would not survive a fleet-scale table."""
    plan = plan_of(queries["sim_batch_diversity"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_bootstrap_has_no_row_explosion(spark, queries):
    """The Poisson bootstrap's whole point is that 60 resamples cost
    ZERO row multiplication — the plan must contain no Generate
    (explode) node over the fact side."""
    plan = plan_of(queries["agg_bootstrap_ci_poisson"](spark, SF_SMOKE), "simple")
    assert "Generate" not in plan


def test_psi_single_scan(spark, queries):
    """Both era histograms must come from ONE conditional-agg pass —
    exactly one parquet scan of orders in the plan (the totals are
    windows over the bucket relation, not a re-aggregate that would
    rescan the fact)."""
    plan = plan_of(queries["validate_drift_psi"](spark, SF_SMOKE), "simple")
    assert plan.count("FileScan parquet") == 1


def test_target_encoding_two_scans(spark, queries):
    """One scan of orders + one of customer; the global moments are
    windows over the segment relation, never a second fact pass."""
    plan = plan_of(queries["ml_target_encoding"](spark, SF_SMOKE), "simple")
    assert plan.count("FileScan parquet") == 2


def test_attribution_windows_share_purchase_exchange(spark, queries):
    """Both attribution rank windows must ride one purchase_id
    exchange."""
    plan = plan_of(
        queries["events_multitouch_attribution"](spark, SF_SMOKE), "simple"
    )
    assert plan.count("hashpartitioning(purchase_id") == 1


def test_drawdown_single_user_exchange(spark, queries):
    """Cumsum, running max, and the per-user reduction share one
    user_id exchange."""
    plan = plan_of(queries["window_max_drawdown"](spark, SF_SMOKE), "simple")
    assert plan.count("hashpartitioning(user_id") == 1


def test_ks_single_scan(spark, queries):
    """Sample totals ride the grid window (full-frame SUM OVER ()),
    so the lineitem scan happens exactly once and the returnflag
    filter reaches it."""
    plan = plan_of(queries["agg_ks_test"](spark, SF_SMOKE), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "l_returnflag" in plan.split("PushedFilters", 1)[1][:300]


def test_autocorrelation_single_scan_no_self_join(spark, queries):
    """All four lag partners come from degenerate RANGE frames over
    one day-index sort — one orders scan, no join of the daily
    relation against itself."""
    plan = plan_of(queries["agg_autocorrelation"](spark, SF_SMOKE), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "SortMergeJoin" not in plan


def test_mutual_information_single_scan(spark, queries):
    """Marginals and the grand total are windows over the tiny
    contingency relation — exactly one lineitem scan, pruned to the
    two categorical columns."""
    plan = plan_of(queries["ml_mutual_information"](spark, SF_SMOKE), "simple")
    assert plan.count("FileScan parquet") == 1
    read_schema = plan.split("ReadSchema", 1)[1][:300]
    assert "l_extendedprice" not in read_schema
    assert "l_returnflag" in read_schema


def test_theil_prunes_to_two_columns(spark, queries):
    """The deliberate double derivation of per-customer spend (see
    docstring) must at least prune both scans to custkey+totalprice."""
    plan = plan_of(queries["agg_theil_index"](spark, SF_SMOKE), "simple")
    for seg in plan.split("ReadSchema")[1:]:
        assert "o_orderdate" not in seg[:300]
        assert "o_totalprice" in seg[:300]


def test_kruskal_wallis_single_scan(spark, queries):
    """Midranks, tie terms and rank sums are windows over the (group,
    value) count relation — one lineitem scan, no join."""
    plan = plan_of(queries["agg_kruskal_wallis"](spark, SF_SMOKE), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "SortMergeJoin" not in plan


def test_correlation_matrix_single_scan(spark, queries):
    """Fourteen power sums in one aggregate row; the 6-pair unpivot is
    a broadcast against the inline constant table — one scan."""
    plan = plan_of(queries["agg_correlation_matrix"](spark, SF_SMOKE), "simple")
    assert plan.count("FileScan parquet") == 1


def test_seasonal_decompose_single_scan(spark, queries):
    """Trend and full-week flags ride one day-index window over the
    tiny daily relation — one orders scan."""
    plan = plan_of(queries["ts_seasonal_decompose"](spark, SF_SMOKE), "simple")
    assert plan.count("FileScan parquet") == 1


def test_levene_two_scans_broadcast_means(spark, queries):
    """Deliberate train-then-score: exactly two 2-column scans, with
    the 3-row group-means relation broadcast to the deviations pass."""
    plan = plan_of(
        queries["agg_levene_variance_test"](spark, SF_SMOKE), "simple"
    )
    assert plan.count("FileScan parquet") == 2
    assert "BroadcastHashJoin" in plan
    for seg in plan.split("ReadSchema")[1:]:
        assert "l_quantity" not in seg[:300]


def test_semdedup_persists_assignment_for_pair_join(spark, queries):
    """The Lloyd-assignment relation must be computed once: both sides
    of the within-cluster pair join and the final rollup read the
    persisted (vec_id, cid, qv, n2) relation (3 InMemoryTableScans),
    not three fresh derivations of the distance/argmin subtree."""
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        plan = plan_of(queries["curate_semdedup"](spark, SF_SMOKE), "simple")
        assert plan.count("InMemoryTableScan") == 3
    finally:
        release_caches(spark)


def test_null_row_filters_push_to_parquet_scan(spark, queries):
    """The round-7 NULL-row filters must stay SCAN predicates, not
    post-scan Filter nodes: IsNotNull on a scanned column reaches the
    parquet reader as a row-group-level null-count prune, which is the
    100 TB justification for fixing NULL semantics with per-query
    filters instead of a global ingest pass (SCALE.md NULL posture)."""
    plan = plan_of(queries["events_sessionize"](spark, SF_SMOKE))
    assert "IsNotNull(ts)" in plan and "IsNotNull(user_id)" in plan, plan
    plan = plan_of(queries["sim_bruteforce_topk"](spark, SF_SMOKE))
    assert "IsNotNull(embedding)" in plan, plan
    plan = plan_of(queries["ml_lift_gains_table"](spark, SF_SMOKE))
    assert "IsNotNull(value)" in plan, plan
