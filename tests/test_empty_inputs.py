"""Degenerate-input robustness: every contract query must execute
(not crash) against schema-identical but EMPTY tables — the shape of
a fresh partition, a fully-filtered scan, or a cold-start stream.
Empty inputs flush out driver-side .collect()[0] assumptions, window
frames over nothing, and divide-by-zero in ratio queries."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from tests.conftest import needs_boat_reference

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_empty"))
    for p in glob.glob(os.path.join(SRC, "*.parquet")):
        table = pq.read_table(p).slice(0, 0)
        pq.write_table(table, os.path.join(d, os.path.basename(p)), version="2.6")
    return d


def all_query_names():
    import __spark_entry__ as m

    return sorted(m.queries())


@pytest.mark.parametrize("name", needs_boat_reference(all_query_names()))
def test_query_survives_empty_tables(spark, empty_sf_dir, name):
    import __spark_entry__ as m

    df = m.queries()[name](spark, empty_sf_dir)
    rows = df.collect()
    assert isinstance(rows, list)  # executed without raising


# ---------------------------------------------------------------------------
# Degenerate TEXT parity (round-5 verdict "what's wrong" #1): a
# whitespace-only or empty document must produce IDENTICAL output from
# the Spark plan and the DuckDB oracle. The boilerplate block
# enumerator's `sequence(0, ceil(size/3)-1)` emits [0,-1] for empty
# token lists unless guarded symmetrically — this fixture would catch
# that class of divergence for every tokenizing query listed.
# ---------------------------------------------------------------------------

_DEGENERATE_TEXT_QUERIES = (
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
)


@pytest.fixture(scope="module")
def degenerate_text_dir(tmp_path_factory):
    """sf0.001 with documents.parquet replaced by degenerate rows:
    empty text, whitespace-only, single token, punctuation-only, and a
    few normal docs so per-corpus denominators stay nonzero."""
    import shutil

    import pyarrow as pa

    d = str(tmp_path_factory.mktemp("sf_degenerate_text"))
    for p in glob.glob(os.path.join(SRC, "*.parquet")):
        if os.path.basename(p) != "documents.parquet":
            shutil.copy(p, os.path.join(d, os.path.basename(p)))
    texts = [
        "",
        "   ",
        "one",
        "...",
        "\t\n  \n",
        "the quick brown fox jumps over the lazy dog",
        "repeat block repeat block repeat block repeat block repeat",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
        # unicode: multi-byte chars stress char-vs-byte length, JVM
        # regex vs RE2 character classes, and lower() case mapping
        "héllo wörld naïve café résumé",
        "日本語 テキスト の 例",
        "emoji \U0001f600 test \U0001f680 rocket",
        "combining á mark é here",
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * 8 + ["fr", "ja", "en", "en"]),
            "source": pa.array(
                ["web", "web", "book", "book", "web", "book", "web", "book",
                 "web", "book", "web", "book"]
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(d, "documents.parquet"), version="2.6")
    return d


@pytest.mark.parametrize("name", _DEGENERATE_TEXT_QUERIES)
def test_text_query_parity_on_degenerate_docs(spark, oracle, degenerate_text_dir, name):
    import __spark_entry__ as m
    from tests.test_oracle_parity import frames_equal

    spark_pd = m.queries()[name](spark, degenerate_text_dir).toPandas()
    con = oracle(degenerate_text_dir)
    oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# Degenerate DUPLICATES: the degenerate docs above are all distinct, so
# every near-dup query returns 0 rows on them and parity there proves
# nothing. Here each degenerate shape comes at least twice (NULL and
# empty text, single-token and 4-token docs, two 9-token docs that
# differ in the last token), so the MinHash kernel's empty/NULL
# shingle-set path and the short-doc edges produce real pairs that
# must match the oracle.
# ---------------------------------------------------------------------------

_DEGENERATE_DUP_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_minhash_calibration",
    "dedup_ngram_jaccard",
    "dedup_clusters",
)


@pytest.fixture(scope="module")
def degenerate_dup_dir(tmp_path_factory):
    import shutil

    import pyarrow as pa

    d = str(tmp_path_factory.mktemp("sf_degenerate_dups"))
    for p in glob.glob(os.path.join(SRC, "*.parquet")):
        if os.path.basename(p) != "documents.parquet":
            shutil.copy(p, os.path.join(d, os.path.basename(p)))
    nine = "one two three four five six seven eight"
    texts = [
        None,
        None,
        "",
        "",
        "   ",
        "solo",
        "solo",
        "red green blue black",
        "red green blue black",
        nine + " nine",
        nine + " ten",
        "the quick brown fox jumps over the lazy dog",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
        "spark plans shuffle hashes and never document bodies",
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["web", "book"] * (len(texts) // 2)),
            "n_chars": pa.array(
                [None if t is None else len(t) for t in texts], pa.int64()
            ),
        }
    )
    pq.write_table(docs, os.path.join(d, "documents.parquet"), version="2.6")
    return d


@pytest.mark.parametrize("name", _DEGENERATE_DUP_QUERIES)
def test_dedup_parity_on_degenerate_duplicates(spark, oracle, degenerate_dup_dir, name):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches
    from tests.test_oracle_parity import frames_equal

    try:
        spark_pd = m.queries()[name](spark, degenerate_dup_dir).toPandas()
    finally:
        release_caches(spark)
    oracle_pd = oracle(degenerate_dup_dir).execute(m.oracle_sql()[name]).fetchdf()
    assert len(spark_pd) > 0, f"{name}: no rows, so parity proves nothing"
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_minhash_kernel_keeps_empty_and_null_sets(spark):
    """The shingle SQL never yields an empty or NULL set (NULL and ''
    text both shingle to ['']), so the kernel's explode_outer path is
    pinned here directly: a doc with an empty or NULL set keeps its row
    with NULL minima and md5('') band keys, as the oracle's
    ``list_min([])`` gives; a normal set matches a pure-Python MinHash."""
    import hashlib

    from boat_etl_pyspark_spark.plans import textdedup as td

    sets = {1: [], 2: None, 3: ["a b c", "b c d", ""]}
    sh = spark.createDataFrame(
        list(sets.items()), "doc_id bigint, s array<string>"
    ).repartition(2, "doc_id")
    sig = {r["doc_id"]: [r[f"m{i}"] for i in range(12)]
           for r in td._minhash_signatures(sh).collect()}
    bands = {(r["doc_id"], r["band_idx"]): r["band_key"]
             for r in td._minhash_bands(td._minhash_signatures(sh)).collect()}

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    h0 = [int(md5(x)[:15], 16) % td._MH_P for x in sets[3]]
    want = [min((a * h + b) % td._MH_P for h in h0) for a, b in zip(td._MH_A, td._MH_B)]
    assert sig == {1: [None] * 12, 2: [None] * 12, 3: want}
    for j in range(4):
        assert bands[(1, j)] == bands[(2, j)] == md5("")
        assert bands[(3, j)] == md5(",".join(map(str, want[3 * j : 3 * j + 3])))
    assert len(bands) == 12
