"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()``
returns every implemented operator query (SURVEY.md §2 / §2.9);
``oracle_sql()`` returns the DuckDB-equivalent SQL for each (omitted
only for genuinely non-SQL-expressible ops, which get a rows-only
check).

Implementation lives in ``boat_etl_pyspark_spark``; this module is a
thin registry.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from boat_etl_pyspark_spark.plans import discover_registries
from boat_etl_pyspark_spark.session import tune

_RAW_QUERIES, _ORACLE = discover_registries()

# The driver's correctness gate checks the FIRST 50 registry entries
# in order. This list is GENERATED by ``python tools/rotation.py
# --python`` from the CORRECTNESS_r*.json history (changed-since-green
# first — mechanized by tools/fingerprints.py's source-hash bank, so
# editing a green query auto-promotes it here — then never-checked
# with the verdict-pinned priority head, then stale greens
# oldest-first) and pinned by
# tests/test_contract_hygiene.py::test_check_first_matches_rotation_tool
# against _CHECK_FIRST_BASIS (the rounds it was computed from).
# ROUND-START RITUAL: when a new CORRECTNESS_r*.json lands, run
# ``python tools/fingerprints.py --bank`` BEFORE any plan edits, then
# rerun the rotation tool with --python and replace ALL THREE tuples
# below — BEFORE the round's plan edits (round-8 verdict item 7), so a
# hardening round's own edits never displace the backlog drain.
# _CHECK_FIRST_CHANGED_BASIS records the changed-since-green set AS OF
# PIN TIME; queries edited after the pin enter the NEXT round's window.
# Round 11 window (pinned from the ROUND-START state — computed in a
# clean checkout of the round-10 close commit after banking r10's 50
# greens, per the ritual above): the remaining changed-since-green
# debt of the round-10 layer-2 campaign heads the window capped at
# 25, oldest banked green first; no never-checked names remain
# (327/327 ever-checked); the remaining slots drain changed overflow
# and the stalest plain greens. Queries edited during round 11 itself
# enter round 12's window head.
_CHECK_FIRST_BASIS = (1, 2, 3, 4, 5, 6, 7, 8, 9, 10)
_CHECK_FIRST_CHANGED_BASIS = (
    "agg_acctbal_percentiles",
    "agg_anova_f",
    "agg_approx_sketches",
    "agg_autocorrelation",
    "agg_bh_fdr",
    "agg_bootstrap_ci_poisson",
    "agg_correlation_matrix",
    "agg_cube_flag_status",
    "agg_durbin_watson",
    "agg_effect_size_panel",
    "agg_geometric_harmonic_means",
    "agg_grouping_sets",
    "agg_heavy_hitters",
    "agg_hll_partition_merge",
    "agg_hodges_lehmann",
    "agg_jarque_bera",
    "agg_kendall_tau_sampled",
    "agg_kruskal_wallis",
    "agg_ks_test",
    "agg_levene_variance_test",
    "agg_pareto_abc",
    "agg_rollup_nation_segment",
    "agg_spearman_rho",
    "agg_tail_cvar",
    "agg_theil_index",
    "agg_trimmed_winsorized_mean",
    "agg_welch_ttest",
    "curate_semdedup",
    "embed_gram_matrix",
    "embed_kmeans_lloyd",
    "events_markov_stationary",
    "events_markov_transitions",
    "events_time_to_convert",
    "graph_bfs_reachability",
    "graph_connected_components",
    "graph_copurchase_similarity",
    "graph_degree_assortativity",
    "graph_kcore_peeling",
    "graph_pagerank_nations",
    "interp_linear_fill",
    "io_binary_manifest",
    "io_codec_tradeoff",
    "io_corrupt_record_quarantine",
    "io_dynamic_partition_overwrite",
    "io_partitioned_scan",
    "io_small_file_compaction",
    "join_spatial_grid",
    "layout_zorder_orders",
    "map_order_attributes",
    "ml_calibration_bins",
    "ml_decision_stump",
    "ml_forecast_error_eval",
    "ml_gbdt_boosted_stumps",
    "ml_kfold_assign",
    "ml_learning_curve",
    "ml_lift_gains_table",
    "ml_logreg_quality",
    "ml_permutation_importance",
    "ml_pinball_quantile_eval",
    "q2_cheapest_supplier_per_part",
    "q9_product_profit",
    "sim_blocked_matmul_topk",
    "sim_product_quantize",
    "stream_append_mode_windows",
    "stream_checkpoint_restart",
    "stream_dedup_user_event_types",
    "stream_foreachbatch_totals",
    "stream_kafka_roundtrip",
    "stream_late_data_audit",
    "stream_session_windows",
    "stream_sliding_6h_3h",
    "stream_stateful_user_totals",
    "stream_static_value_buckets",
    "stream_stream_attribution",
    "stream_tumbling_6h",
    "string_part_catalog",
    "text_zipf_fit",
    "ts_extreme_value_gumbel",
    "ts_hurst_exponent",
    "ts_seasonal_decompose",
    "validate_data_contract",
    "validate_drift_psi",
    "validate_referential_integrity",
    "window_analytic_acctbal",
    "window_bollinger_bands",
    "window_ntile_acctbal",
    "window_rolling_regression",
    "window_rsi_14",
    "window_running_spend",
    "window_ulcer_index",
)
_CHECK_FIRST = (
    "agg_acctbal_percentiles",
    "string_part_catalog",
    "map_order_attributes",
    "q2_cheapest_supplier_per_part",
    "window_analytic_acctbal",
    "agg_approx_sketches",
    "q9_product_profit",
    "agg_hll_partition_merge",
    "graph_pagerank_nations",
    "layout_zorder_orders",
    "graph_bfs_reachability",
    "io_corrupt_record_quarantine",
    "join_spatial_grid",
    "text_zipf_fit",
    "agg_bootstrap_ci_poisson",
    "agg_pareto_abc",
    "agg_ks_test",
    "agg_autocorrelation",
    "agg_theil_index",
    "agg_kruskal_wallis",
    "agg_correlation_matrix",
    "agg_levene_variance_test",
    "ml_kfold_assign",
    "stream_stream_attribution",
    "stream_dedup_user_event_types",
    "ts_seasonal_decompose",
    "validate_drift_psi",
    "agg_heavy_hitters",
    "agg_trimmed_winsorized_mean",
    "agg_tail_cvar",
    "agg_anova_f",
    "agg_jarque_bera",
    "agg_durbin_watson",
    "agg_geometric_harmonic_means",
    "graph_connected_components",
    "graph_copurchase_similarity",
    "graph_kcore_peeling",
    "io_dynamic_partition_overwrite",
    "ml_logreg_quality",
    "ml_decision_stump",
    "ml_gbdt_boosted_stumps",
    "ml_learning_curve",
    "validate_referential_integrity",
    "agg_rollup_nation_segment",
    "agg_cube_flag_status",
    "agg_grouping_sets",
    "curate_semdedup",
    "events_markov_transitions",
    "io_partitioned_scan",
    "io_small_file_compaction",
)

def _ordered(queries: dict) -> dict:
    missing = [n for n in _CHECK_FIRST if n not in queries]
    if missing:
        raise ValueError(f"_CHECK_FIRST names not in registry: {missing}")
    rest = [n for n in queries if n not in set(_CHECK_FIRST)]
    return {n: queries[n] for n in (*_CHECK_FIRST, *rest)}


_QUERIES = _ordered(_RAW_QUERIES)


def _tuned(fn: Callable[[SparkSession, str], DataFrame]):
    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(tune(spark), sf_dir)

    return wrapper


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _tuned(_RAW_QUERIES["q3_shipping_priority"])(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _tuned(fn) for name, fn in _QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for each queries() entry."""
    return dict(_ORACLE)
