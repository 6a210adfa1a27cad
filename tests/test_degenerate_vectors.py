"""Degenerate EMBEDDING parity (round-6 extension of the degenerate
TEXT net): a zero vector (undefined cosine), exact duplicate vectors
(tied similarities), and near-duplicates (ties under quantization)
must produce IDENTICAL output from the Spark plan and the DuckDB
oracle for every embeddings-consuming query. Division by a zero norm
is the classic engine-divergence seed: Spark non-ANSI double x/0
returns NULL where DuckDB may return inf/NaN — if any plan lets a
zero norm reach a division, the two engines part ways silently.

Also: an all-identical-documents fixture for the dedup family, where
every pair is a candidate and every similarity is exactly 1.0 —
maximal tie pressure on ordering/threshold logic.
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

_DIMS = 64  # pinned by test_contract_hygiene


def _copy_sf(dst: str, skip: str) -> None:
    for p in glob.glob(os.path.join(SF_SMOKE, "*.parquet")):
        if os.path.basename(p) != skip:
            shutil.copy(p, os.path.join(dst, os.path.basename(p)))


@pytest.fixture(scope="module")
def degenerate_vec_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_degenerate_vec"))
    _copy_sf(d, skip="embeddings.parquet")
    rng = np.random.RandomState(7)
    n = 40
    vecs = rng.randn(n, _DIMS).astype(np.float32)
    vecs[0, :] = 0.0                      # zero vector: undefined cosine
    vecs[2, :] = vecs[1, :]               # exact duplicate pair (1,2)
    vecs[4, :] = vecs[3, :] * 1.0000001   # near-duplicate pair (3,4)
    vecs[6, :] = 0.25                     # constant vector
    vecs[7, :] = 0.25                     # ... duplicated
    emb = pa.table(
        {
            "vec_id": pa.array(range(1, n + 1), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([i % 5 for i in range(n)], pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(d, "embeddings.parquet"), version="2.6")
    return d


_VEC_QUERIES = (
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
    "embed_centroid_drift",
    "embed_isotropy_participation",
    "ml_hard_negative_mining",
)


@pytest.mark.parametrize("name", _VEC_QUERIES)
def test_vector_query_parity_on_degenerate_embeddings(
    spark, oracle, degenerate_vec_dir, name
):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        spark_pd = m.queries()[name](spark, degenerate_vec_dir).toPandas()
        con = oracle(degenerate_vec_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.fixture(scope="module")
def identical_docs_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_identical_docs"))
    _copy_sf(d, skip="documents.parquet")
    body = (
        "the quick brown fox jumps over the lazy dog and keeps on "
        "running through the quiet field until the early evening light"
    )
    texts = [body] * 6 + [
        "a completely different document about spark physical plans",
        "yet another unique text mentioning adaptive query execution",
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["web", "book"] * 4),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(d, "documents.parquet"), version="2.6")
    return d


_DEDUP_QUERIES = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_incremental",
    "dedup_clusters",
    "dedup_embedding_cosine",
    "text_substring_dedup",
    "text_containment_dedup",
    "text_dup_ngram_fraction",
)


@pytest.mark.parametrize("name", _DEDUP_QUERIES)
def test_dedup_parity_on_identical_docs(spark, oracle, identical_docs_dir, name):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        spark_pd = m.queries()[name](spark, identical_docs_dir).toPandas()
        con = oracle(identical_docs_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# Tied-timestamp events: every event shares ONE timestamp, values
# repeat, users collide — maximal tie pressure on window ORDER BY
# clauses (a missing deterministic tie-breaker diverges between
# engines and between Spark partitions), zero durations for
# time-weighted operators, and single-day series for the ts_* family.
# ---------------------------------------------------------------------------

_TIED_EVENT_QUERIES = (
    "events_funnel_conversion",
    "events_sessionize",
    "events_markov_transitions",
    "events_user_journey_paths",
    "events_time_to_convert",
    "events_multitouch_attribution",
    "events_rfm_segmentation",
    "events_bot_detection",
    "events_burstiness",
    "events_dau_mau_stickiness",
    "window_rolling_24h_value",
    "window_time_weighted_avg",
    "window_cusum_changepoint",
    "window_max_drawdown",
    "window_hampel_outliers",
    "window_ewma_spend",
    "window_bollinger_bands",
    "window_rsi_14",
    "window_ulcer_index",
    "ts_ohlc_bars",
    "ts_weekday_seasonality",
    "ts_circular_time_stats",
    "ts_periodogram",
    "ts_lead_lag_xcorr",
    "ts_ewma_control_chart",
    "ts_hurst_exponent",
    "ts_extreme_value_gumbel",
    "ts_seasonal_decompose",
    "ts_exponential_fit_ks",
)


@pytest.fixture(scope="module")
def tied_events_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_tied_events"))
    _copy_sf(d, skip="events.parquet")
    n = 60
    one_ts = np.datetime64("2024-03-01T12:00:00.000000", "us")
    types = ["view", "purchase", "signup", "error", "click"]
    emb = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([one_ts] * n, pa.timestamp("us")),
            "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
            "event_type": pa.array([types[i % 5] for i in range(n)]),
            # repeated values: ties inside ties
            "value": pa.array([float((i % 3) * 10) for i in range(n)]),
            "props": pa.array(['{"k": 1}'] * n),
        }
    )
    pq.write_table(emb, os.path.join(d, "events.parquet"), version="2.6")
    return d


@pytest.mark.parametrize("name", _TIED_EVENT_QUERIES)
def test_event_query_parity_on_tied_timestamps(
    spark, oracle, tied_events_dir, name
):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        spark_pd = m.queries()[name](spark, tied_events_dir).toPandas()
        con = oracle(tied_events_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# NULL-bearing documents: real ingest has NULLs even though the driver
# fixtures don't. The tokenizing queries that define per-document
# outputs filter NULL text symmetrically in both engines (the ingest
# contract surfaces the rows via validate_data_contract's
# documents_null_* rules); corpus-level queries drop NULL rows
# identically through their tokenize-then-join shapes.
# ---------------------------------------------------------------------------

_NULL_DOC_QUERIES = (
    # The full tokenizing family (mirrors _DEGENERATE_TEXT_QUERIES in
    # test_empty_inputs.py) so NULL-ingest semantics are pinned
    # uniformly, not just on the four queries the round-6 net caught.
    "text_boilerplate_strip",
    "text_unigram_surprisal",
    "text_readability",
    "text_entropy_per_source",
    "text_bigram_perplexity",
    "text_heaps_law",
    "text_token_stats",
    "text_quality_score",
    "text_mattr",
    "text_chunking",
    "text_stopword_removal",
    "text_tfidf_top_terms",
    "text_keyword_spans",
    "text_language_id",
    "text_fingerprints",
    "text_pii_redaction",
    "text_repetition_stats",
    "text_chunk_dedup",
    "text_normalize_unicode",
    "text_vocab_stats",
    "text_symbol_stats",
    "text_bigram_rarity",
    "text_bpe_pair_stats",
    "text_source_divergence",
    "text_zipf_fit",
    "text_dup_ngram_fraction",
    "text_pmi_collocations",
    "text_tokenizer_fertility",
    "text_keyness_llr",
    # Non-tokenizing consumers of the documents table that must agree
    # on NULL-row semantics as well.
    "dedup_exact",
    "dedup_minhash_lsh",
    "curate_semdedup",
    "validate_data_contract",
)


@pytest.fixture(scope="module")
def null_docs_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_null_docs"))
    _copy_sf(d, skip="documents.parquet")
    texts = [
        "the quick brown fox jumps over the dog",
        None,
        "another normal document body here",
        None,
        "third doc with plain words in it",
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(range(1, 6), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en", "en", None, "en", "en"]),
            "source": pa.array(["web", None, "book", "web", "book"]),
            "n_chars": pa.array(
                [len(t) if t else None for t in texts], pa.int64()
            ),
        }
    )
    pq.write_table(docs, os.path.join(d, "documents.parquet"), version="2.6")
    return d


@pytest.mark.parametrize("name", _NULL_DOC_QUERIES)
def test_query_parity_on_null_documents(spark, oracle, null_docs_dir, name):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        spark_pd = m.queries()[name](spark, null_docs_dir).toPandas()
        con = oracle(null_docs_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# Extreme timestamps: pre-1970 (negative epoch micros), the epoch
# itself, the 2038 int32 boundary, and a far-future date — pins that
# unix_micros/epoch_us, date_trunc, and weekday math agree across
# engines over the whole timestamp domain, not just the fixture's
# 2024 window.
# ---------------------------------------------------------------------------

_EXTREME_TS_QUERIES = (
    "ts_weekday_seasonality",
    "ts_ohlc_bars",
    "ts_circular_time_stats",
    "window_rolling_24h_value",
    "window_time_weighted_avg",
    "events_sessionize",
    "events_burstiness",
    "events_dau_mau_stickiness",
    "window_max_drawdown",
    "ts_ewma_control_chart",
    "events_rfm_segmentation",
    "date_daily_event_stats",
)


@pytest.fixture(scope="module")
def extreme_ts_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_extreme_ts"))
    _copy_sf(d, skip="events.parquet")
    n = 40
    tss = [
        np.datetime64("1969-12-31T23:59:59.500000", "us"),
        np.datetime64("1969-06-15T06:30:00", "us"),
        np.datetime64("1970-01-01T00:00:00", "us"),
        np.datetime64("2038-01-19T03:14:07", "us"),
        np.datetime64("2199-12-31T23:59:59", "us"),
    ]
    types = ["view", "purchase", "signup", "error", "click"]
    ev = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([tss[i % 5] for i in range(n)], pa.timestamp("us")),
            "user_id": pa.array([i % 6 for i in range(n)], pa.int64()),
            "event_type": pa.array([types[(i * 3) % 5] for i in range(n)]),
            "value": pa.array([float(i % 7) * 3.5 for i in range(n)]),
            "props": pa.array(['{"k": 2}'] * n),
        }
    )
    pq.write_table(ev, os.path.join(d, "events.parquet"), version="2.6")
    return d


@pytest.mark.parametrize("name", _EXTREME_TS_QUERIES)
def test_event_query_parity_on_extreme_timestamps(
    spark, oracle, extreme_ts_dir, name
):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        spark_pd = m.queries()[name](spark, extreme_ts_dir).toPandas()
        con = oracle(extreme_ts_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# Missing-group events: zero 'purchase' events — every score metric's
# positive class is EMPTY (n_pos = 0 divisions, empty funnel stages,
# one-arm pivots). Integer x/0 is NULL in both Spark non-ANSI DIV and
# DuckDB //, so the NULL propagation must stay symmetric end to end.
# ---------------------------------------------------------------------------

_NO_POSITIVES_QUERIES = (
    "ml_roc_auc",
    "ml_pr_auc",
    "ml_threshold_youden",
    "ml_confusion_threshold",
    "events_funnel_conversion",
    "events_ab_test_lift",
    "ml_lift_gains_table",
    "ml_calibration_bins",
    "ml_logreg_quality",
    "ml_brier_decomposition",
    "events_uplift_qini",
    "agg_mann_whitney_u",
    "events_time_to_convert",
    "ml_calibration_ece",
    "events_sprt_ab_test",
    "events_markov_transitions",
)


@pytest.fixture(scope="module")
def no_positives_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_no_positives"))
    _copy_sf(d, skip="events.parquet")
    n = 50
    base = np.datetime64("2024-01-01T00:00:00", "us")
    types = ["view", "click", "signup", "error"]  # no 'purchase'
    ev = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [base + np.timedelta64(i * 3600, "s") for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([i % 8 for i in range(n)], pa.int64()),
            "event_type": pa.array([types[i % 4] for i in range(n)]),
            "value": pa.array([float(i % 9) * 2.25 for i in range(n)]),
            "props": pa.array(['{"k": 3}'] * n),
        }
    )
    pq.write_table(ev, os.path.join(d, "events.parquet"), version="2.6")
    return d


@pytest.mark.parametrize("name", _NO_POSITIVES_QUERIES)
def test_metric_parity_with_zero_positives(spark, oracle, no_positives_dir, name):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        spark_pd = m.queries()[name](spark, no_positives_dir).toPandas()
        con = oracle(no_positives_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)
