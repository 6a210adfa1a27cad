"""NULL-row parity nets for the events and embeddings tables — the
round-7 extension of the NULL-documents net to the other two synthetic
tables. A real 100 TB ingest WILL contain rows with NULL timestamps,
NULL user ids, NULL metric values, NULL embedding arrays; each engine
has its own defaults where those meet ORDER BY (Spark sorts NULLS
FIRST ascending, DuckDB NULLS LAST), window frames, x/NULL arithmetic,
and list HOFs — so any query that lets a NULL reach one of those
surfaces without a pinned, symmetric rule diverges silently.

The fixtures keep the REAL sf0.001 rows (realistic distributions keep
funnels/windows producing output) and append a handful of NULL-bearing
rows, one per nullable column plus an all-NULL payload row.
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


def _copy_sf(dst: str, skip: str) -> None:
    for p in glob.glob(os.path.join(SF_SMOKE, "*.parquet")):
        if os.path.basename(p) != skip:
            shutil.copy(p, os.path.join(dst, os.path.basename(p)))


# ---------------------------------------------------------------------------
# NULL events: real sf0.001 events + six NULL-bearing rows.
# ---------------------------------------------------------------------------

_NULL_EVENT_QUERIES = (
    # events family (all registry events_* names)
    "events_ab_srm_check",
    "events_ab_test_lift",
    "events_bot_detection",
    "events_burstiness",
    "events_cuped_variance_reduction",
    "events_dau_mau_stickiness",
    "events_diff_in_diff",
    "events_funnel_conversion",
    "events_markov_entropy_rate",
    "events_markov_stationary",
    "events_markov_transitions",
    "events_multitouch_attribution",
    "events_pattern_vshape",
    "events_rate_spike_zscore",
    "events_rfm_segmentation",
    "events_sessionize",
    "events_sprt_ab_test",
    "events_time_to_convert",
    "events_uplift_qini",
    "events_user_journey_paths",
    # ts family (all read events)
    "ts_circular_time_stats",
    "ts_ewma_control_chart",
    "ts_exponential_fit_ks",
    "ts_extreme_value_gumbel",
    "ts_hurst_exponent",
    "ts_lead_lag_xcorr",
    "ts_ohlc_bars",
    "ts_periodogram",
    "ts_seasonal_decompose",
    "ts_weekday_seasonality",
    # events-reading window queries (the tied-timestamp curation)
    "window_rolling_24h_value",
    "window_time_weighted_avg",
    "window_cusum_changepoint",
    "window_max_drawdown",
    "window_hampel_outliers",
    "window_ewma_spend",
    "window_bollinger_bands",
    "window_rsi_14",
    "window_ulcer_index",
    # score metrics built on events.value
    "ml_roc_auc",
    "ml_pr_auc",
    "ml_threshold_youden",
    "ml_confusion_threshold",
    "ml_lift_gains_table",
    "ml_calibration_bins",
    "ml_calibration_ece",
    "ml_logreg_quality",
    "ml_brier_decomposition",
    "agg_mann_whitney_u",
    # remaining events consumers (every registry query whose oracle
    # references the events table — pinned complete by
    # test_event_nets_cover_every_events_consumer)
    "agg_incremental_mv_merge",
    "agg_ljung_box",
    "agg_mode_per_group",
    "agg_permutation_test_lift",
    "agg_survival_kaplan_meier",
    "agg_survival_nelson_aalen",
    "agg_user_engagement_bitmap",
    "agg_welch_ttest",
    "agg_width_bucket_histogram",
    "date_daily_event_stats",
    "date_densified_daily_events",
    "gaps_islands_user_streaks",
    "interp_linear_fill",
    "io_partitioned_scan",
    "join_asof_cogrouped",
    "join_asof_nearest",
    "join_asof_purchase_last_view",
    "join_interval_overlap",
    "join_range_value_buckets",
    "json_event_props",
    "json_variant_nested",
    "ml_power_analysis",
    "stream_append_mode_windows",
    "stream_chained_agg",
    "stream_checkpoint_restart",
    "stream_dedup_user_event_types",
    "stream_dedup_within_watermark",
    "stream_foreachbatch_totals",
    "stream_kafka_roundtrip",
    "stream_late_data_audit",
    "stream_session_windows",
    "stream_sliding_6h_3h",
    "stream_stateful_user_totals",
    "stream_static_value_buckets",
    "stream_stream_attribution",
    "stream_stream_full_outer",
    "stream_stream_left_outer",
    "stream_tumbling_6h",
    "window_locf_fill",
    "window_rolling_regression",
    "window_running_distinct",
    "validate_data_contract",
)


@pytest.fixture(scope="module")
def null_events_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_null_events"))
    _copy_sf(d, skip="events.parquet")
    real = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    next_id = 10_000_000
    base = np.datetime64("2024-02-15T09:30:00.000000", "us")
    rows = {
        "event_id": [],
        "ts": [],
        "user_id": [],
        "event_type": [],
        "value": [],
        "props": [],
    }

    def add(ts, user_id, event_type, value, props):
        nonlocal next_id
        rows["event_id"].append(next_id)
        rows["ts"].append(ts)
        rows["user_id"].append(user_id)
        rows["event_type"].append(event_type)
        rows["value"].append(value)
        rows["props"].append(props)
        next_id += 1

    add(None, 3, "view", 10.0, '{"k": 1}')        # NULL ts
    add(base, None, "click", 5.0, '{"k": 1}')      # NULL user
    add(base, 4, None, 7.5, '{"k": 1}')            # NULL type
    add(base, 5, "purchase", None, '{"k": 1}')     # NULL value
    add(base, 6, "view", 2.0, None)                # NULL props
    add(None, None, None, None, None)              # all-NULL payload
    extra = pa.table(
        {
            "event_id": pa.array(rows["event_id"], pa.int64()),
            "ts": pa.array(rows["ts"], pa.timestamp("us")),
            "user_id": pa.array(rows["user_id"], pa.int64()),
            "event_type": pa.array(rows["event_type"], pa.string()),
            "value": pa.array(rows["value"], pa.float64()),
            "props": pa.array(rows["props"], pa.string()),
        }
    )
    merged = pa.concat_tables([real.select(extra.column_names), extra])
    pq.write_table(merged, os.path.join(d, "events.parquet"), version="2.6")
    return d


@pytest.mark.parametrize("name", _NULL_EVENT_QUERIES)
def test_event_query_parity_on_null_rows(spark, oracle, null_events_dir, name):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        spark_pd = m.queries()[name](spark, null_events_dir).toPandas()
        con = oracle(null_events_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# NULL embeddings: real sf0.001 embeddings + a NULL array row, a row
# with a NULL element INSIDE the array, and a NULL label row.
# ---------------------------------------------------------------------------

_NULL_EMBED_QUERIES = (
    "sim_bruteforce_topk",
    "sim_ivf_topk",
    "sim_rp_lsh_buckets",
    "sim_norm_stats",
    "sim_quantize_int8",
    "sim_product_quantize",
    "sim_blocked_matmul_topk",
    "sim_batch_diversity",
    "sim_mmr_diverse_topk",
    "sim_ivf_recall_eval",
    "curate_semdedup",
    "embed_kmeans_lloyd",
    "embed_gram_matrix",
    "embed_pca_power",
    "embed_centroid_drift",
    "embed_isotropy_participation",
    "ml_hard_negative_mining",
)


@pytest.fixture(scope="module")
def null_embeddings_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_null_embeddings"))
    _copy_sf(d, skip="embeddings.parquet")
    real = pq.read_table(os.path.join(SF_SMOKE, "embeddings.parquet"))
    dims = len(real.column("embedding")[0].as_py())
    rng = np.random.RandomState(11)
    normal = [float(x) for x in rng.randn(dims).astype(np.float32)]
    holed = list(normal)
    holed[3] = None  # NULL element inside the array
    nan_el = list(normal)
    nan_el[5] = float("nan")  # NaN element: no geometry
    inf_el = list(normal)
    inf_el[7] = float("inf")  # Inf element
    huge_el = list(normal)
    huge_el[2] = 1.0e30  # finite but overflows every integer quantizer
    empty = []  # no geometry at all: np.stack would raise, SQL joins
    #             would silently emit zero per-dimension rows
    half = list(normal)[: dims // 2]  # ragged: crashes np.stack, and
    #             per-dimension joins count it one-sided (round-8
    #             probe class — excluded by size(embedding) = dims)
    extra = pa.table(
        {
            "vec_id": pa.array(
                [10_000_000 + i for i in range(8)], pa.int64()
            ),
            "embedding": pa.array(
                [None, holed, normal, nan_el, inf_el, huge_el, empty, half],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([1, 2, None, 3, 4, 0, 5, 6], pa.int32()),
        }
    )
    merged = pa.concat_tables([real.select(extra.column_names), extra])
    pq.write_table(merged, os.path.join(d, "embeddings.parquet"), version="2.6")
    return d


@pytest.mark.parametrize("name", _NULL_EMBED_QUERIES)
def test_embedding_query_parity_on_null_rows(
    spark, oracle, null_embeddings_dir, name
):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        spark_pd = m.queries()[name](spark, null_embeddings_dir).toPandas()
        con = oracle(null_embeddings_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# Hostile props JSON: the events.props column on real ingest will
# contain malformed JSON, non-object documents, non-numeric and
# non-integer k values. Spark's get_json_object is total (NULL on any
# garbage) while DuckDB's json_extract_string THROWS on malformed
# input and its string→BIGINT cast ROUNDS where Spark's truncates —
# three distinct divergence mechanisms in one column.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hostile_props_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_hostile_props"))
    _copy_sf(d, skip="events.parquet")
    real = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    base = np.datetime64("2024-02-15T10:00:00.000000", "us")
    props = [
        "{bad",             # malformed
        "",                 # empty string
        "null",             # JSON null document
        "[]",               # non-object
        '{"k": "x"}',       # non-numeric k
        '{"k": 1.5}',       # non-integer k (truncate-vs-round seed)
        '{"k": true}',      # boolean k
        '{"k": -3.9}',      # negative non-integer (trunc toward zero)
        None,               # NULL props
        '{"j": 7}',         # missing key
        '{"k": 1e300}',     # overflows BIGINT (r07 ADVICE: non-ANSI
        #                     cast saturates, plain DuckDB CAST throws)
        '{"k": "Infinity"}',  # parses to +Inf in both engines
        '{"k": "NaN"}',       # parses to NaN in both engines
        '{"k": -1e300}',      # negative overflow
        '{"k": 9223372036854775808}',  # exactly 2^63: Spark ANSI
        #                     overflow check passes at the double
        #                     boundary, DuckDB's strict < 2^63 doesn't
    ]
    n = len(props)
    extra = pa.table(
        {
            "event_id": pa.array(range(20_000_000, 20_000_000 + n), pa.int64()),
            "ts": pa.array(
                [base + np.timedelta64(i, "s") for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([1.0] * n),
            "props": pa.array(props, pa.string()),
        }
    )
    merged = pa.concat_tables([real.select(extra.column_names), extra])
    pq.write_table(merged, os.path.join(d, "events.parquet"), version="2.6")
    return d


def test_json_event_props_parity_on_hostile_props(
    spark, oracle, hostile_props_dir
):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        spark_pd = (
            m.queries()["json_event_props"](spark, hostile_props_dir)
            .toPandas()
        )
        con = oracle(hostile_props_dir)
        oracle_pd = con.execute(
            m.oracle_sql()["json_event_props"]
        ).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, "json_event_props: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# Non-finite events.value: parquet carries NaN and +/-Infinity doubles,
# and the engines invent different integers for them — Spark's
# non-ANSI CAST(NaN AS BIGINT) = 0 and CAST(Inf AS BIGINT) = 2^63-1
# where DuckDB's CAST throws (TRY_CAST -> NULL). Every value-cents
# query is exposed. Policy under test: non-finite value behaves
# exactly like NULL value (TRY_CAST in both engines), composing with
# the NULL-row rules pinned above.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def nonfinite_events_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_nonfinite_events"))
    _copy_sf(d, skip="events.parquet")
    real = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    base = np.datetime64("2024-02-15T11:00:00.000000", "us")
    vals = [
        float("nan"),
        float("inf"),
        float("-inf"),
        1e300,
        12.34,
        0.125,     # cents land exactly on .5: ROUND is half AWAY from
        #            zero in both engines (13), np.rint would give 12
        -0.125,    # and the negative mirror (-13, not -12)
        # huge-but-TRY_CAST-castable values (cents 9.21e18 in
        # [9.2e18, 2^63)): the round-8 probe's INT64-overflow class —
        # five queries multiply cents by small integers downstream
        # where DuckDB BIGINT arithmetic THROWS and Spark wraps. Those
        # five now bound |value| <= contract.VALUE_DOMAIN_DOLLARS
        # (1e12) symmetrically, so these rows behave like NULL there;
        # pure-SUM consumers keep them via TRY_CAST in both engines
        # (the band semantics stay pinned by
        # test_stateful_totals_parity_on_guard_band_values).
        9.21e16,
        -9.21e16,
    ]
    n = len(vals)
    extra = pa.table(
        {
            "event_id": pa.array(range(30_000_000, 30_000_000 + n), pa.int64()),
            "ts": pa.array(
                [base + np.timedelta64(i, "s") for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
            "event_type": pa.array(
                [("purchase", "view")[i % 2] for i in range(n)]
            ),
            "value": pa.array(vals, pa.float64()),
            "props": pa.array(['{"k": 1}'] * n),
        }
    )
    merged = pa.concat_tables([real.select(extra.column_names), extra])
    pq.write_table(merged, os.path.join(d, "events.parquet"), version="2.6")
    return d


@pytest.mark.parametrize("name", _NULL_EVENT_QUERIES)
def test_event_query_parity_on_nonfinite_values(
    spark, oracle, nonfinite_events_dir, name
):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        spark_pd = m.queries()[name](spark, nonfinite_events_dir).toPandas()
        con = oracle(nonfinite_events_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.fixture(scope="module")
def guard_band_events_dir(tmp_path_factory):
    """Values whose cents land in TRY_CAST's outer reaches: the
    [9.2e18, 2^63) band the old stateful guard wrongly dropped, the
    first overflow beyond it, exact-half cents (round-7 ADVICE), and
    the round-8 ADVICE rounding classes (a fraction just under .5 that
    abs+0.5 rounds up, and odd integer cents in [2^52, 2^53) whose
    +0.5 tie goes even). The stateful totals operator keeps the FULL
    TRY_CAST domain (pure SUM — no downstream multiplication), so this
    dedicated fixture pins the band semantics at values far beyond
    contract.VALUE_DOMAIN_DOLLARS; the five multiplying queries bound
    their domain instead (see nonfinite_events_dir)."""
    d = str(tmp_path_factory.mktemp("sf_guard_band_events"))
    _copy_sf(d, skip="events.parquet")
    real = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    base = np.datetime64("2024-02-15T12:00:00.000000", "us")
    vals = [
        0.125,      # 12.5 cents: half AWAY from zero -> 13
        -0.125,     # -13, not -12
        9.21e16,    # cents 9.21e18 in [9.2e18, 2^63): TRY_CAST keeps it
        -9.21e16,   # the negative band mirror
        9.3e16,     # cents 9.3e18 >= 2^63: TRY_CAST -> NULL, drops out
        # round-8 ADVICE rounding classes (value*100 is IEEE-exact by
        # construction, verified in both engines):
        0.004999999999999999,   # cents 0.49999999999999994: ROUND -> 0,
        #                         but abs+0.5 rounds UP to 1.0 in float64
        45035996273704.97,      # cents 2^52+1 (odd, no fractional ulp):
        #                         ROUND keeps it; x+0.5 ties to the EVEN
        #                         neighbor 2^52+2
        -45035996273704.97,     # the negative mirror nets the sum to 0
    ]
    n = len(vals)
    extra = pa.table(
        {
            "event_id": pa.array(range(40_000_000, 40_000_000 + n), pa.int64()),
            "ts": pa.array(
                [base + np.timedelta64(i, "s") for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([777] * n, pa.int64()),
            "event_type": pa.array(["purchase"] * n),
            "value": pa.array(vals, pa.float64()),
            "props": pa.array(['{"k": 1}'] * n),
        }
    )
    merged = pa.concat_tables([real.select(extra.column_names), extra])
    pq.write_table(merged, os.path.join(d, "events.parquet"), version="2.6")
    return d


def test_stateful_totals_parity_on_guard_band_values(
    spark, oracle, guard_band_events_dir
):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    name = "stream_stateful_user_totals"
    try:
        spark_pd = m.queries()[name](spark, guard_band_events_dir).toPandas()
        con = oracle(guard_band_events_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)
    # the synthetic user's total pins the exact band semantics:
    # 13 - 13 + 9.21e18 - 9.21e18 + (dropped) + 0 + (2^52+1) - (2^52+1)
    # = 0 cents — a +1-cent drift on ANY of the rounding-edge rows
    # (or the even-neighbor tie) breaks the zero
    row = spark_pd[spark_pd["user_id"] == 777]
    assert len(row) == 1
    assert float(row["value_sum"].iloc[0]) == 0.0
    assert int(row["n_events"].iloc[0]) == 8


def test_event_nets_cover_every_events_consumer():
    """Every registry query whose oracle reads the events table must be
    in the NULL/non-finite event nets — a new events consumer cannot
    ship without hostile-row parity coverage."""
    import re

    import __spark_entry__ as m

    consumers = {
        n for n, s in m.oracle_sql().items() if re.search(r"\bevents\b", s)
    }
    missing = consumers - set(_NULL_EVENT_QUERIES)
    assert not missing, f"events consumers missing from nets: {sorted(missing)}"
