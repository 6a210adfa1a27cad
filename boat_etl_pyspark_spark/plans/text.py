"""Text analysis over ``documents``: token statistics, quality scores,
language models and corpus-level text measures.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..cache import track_persist
from ..operators.library import global_rank
from ..sources.readers import load_table
from .contract import TEXT_VALID_DUCK, text_valid
from .textdedup import _DUCK_SHINGLES, _shingle_sets


def _docs_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(name)
    return name


# ---------------------------------------------------------------------------
# Document chunking: fixed-size token windows with overlap (map-only)
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 32, 24  # 32-token chunks, 8-token overlap


# ``text_chunking`` is the training-data chunking op (fixed-size token
# windows with overlap) expressed with pure built-ins — sequence +
# slice + explode — so it scales as a map-only stage.
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__chunk_docs")
    return spark.sql(
        f"""
        WITH t AS (SELECT doc_id, split(text, ' ') AS toks FROM __chunk_docs),
        c AS (
          SELECT doc_id,
                 posexplode(transform(
                   sequence(0, CAST(greatest(size(toks) - 1, 0) DIV {_STRIDE} AS INT)),
                   i -> concat_ws(' ', slice(toks, i * {_STRIDE} + 1, {_CHUNK}))
                 )) AS (chunk_idx, chunk)
          FROM t
        )
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk,
               CAST(size(split(chunk, ' ')) AS BIGINT) AS chunk_tokens
        FROM c
        WHERE chunk != ''
        """
    )


_CHUNK_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (
  SELECT doc_id,
         unnest(range(0, greatest(len(toks) - 1, 0) // {_STRIDE} + 1)) AS chunk_idx
  FROM t
),
j AS (
  SELECT c.doc_id, c.chunk_idx,
         array_to_string(t.toks[c.chunk_idx * {_STRIDE} + 1 : c.chunk_idx * {_STRIDE} + {_CHUNK}], ' ') AS chunk
  FROM c JOIN t ON c.doc_id = t.doc_id
)
SELECT doc_id, chunk_idx, chunk,
       len(string_split(chunk, ' ')) AS chunk_tokens
FROM j
WHERE chunk <> ''
"""


# ---------------------------------------------------------------------------
# Token statistics (whitespace tokens + BPE-ish regex word count)
# ---------------------------------------------------------------------------

_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


_TOKSTATS_SPARK = f"""
SELECT doc_id, lang, source,
       CAST(size(t) AS BIGINT) AS n_tokens,
       CAST(size(array_distinct(t)) AS BIGINT) AS n_unique,
       CAST(size(regexp_extract_all(text, '{_TOKEN_RE}', 0)) AS BIGINT) AS n_bpeish,
       CAST(aggregate(t, 0L, (acc, x) -> acc + length(x)) AS BIGINT) AS token_chars,
       CAST(aggregate(t, 0L, (acc, x) -> acc + length(x)) AS DOUBLE) / greatest(size(t), 1) AS avg_token_len
FROM (SELECT doc_id, lang, source, text, split(text, ' ') AS t FROM {{docs}}
      WHERE text IS NOT NULL)
"""


_TOKSTATS_DUCK = f"""
SELECT doc_id, lang, source,
       len(t) AS n_tokens,
       len(list_distinct(t)) AS n_unique,
       len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_bpeish,
       CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS token_chars,
       CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / greatest(len(t), 1) AS avg_token_len
FROM (SELECT doc_id, lang, source, text, string_split(text, ' ') AS t FROM documents
      WHERE text IS NOT NULL)
"""


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_view(spark, sf_dir, "__docs_ts")
    return spark.sql(_TOKSTATS_SPARK.format(docs=docs))


# ---------------------------------------------------------------------------
# Quality scoring: length / stopword / uniqueness signals
# ---------------------------------------------------------------------------

_STOPWORDS = "('the', 'a', 'of', 'and', 'is', 'to', 'in')"


_QUALITY_SPARK = f"""
SELECT doc_id,
       CAST(size(t) AS BIGINT) AS n_tokens,
       CAST(size(array_distinct(t)) AS DOUBLE) / greatest(size(t), 1) AS unique_ratio,
       CAST(size(filter(t, x -> x IN {_STOPWORDS})) AS DOUBLE) / greatest(size(t), 1) AS stop_ratio,
       0.4 * least(CAST(size(t) AS DOUBLE) / 100.0, 1.0)
         + 0.3 * (1.0 - CAST(size(filter(t, x -> x IN {_STOPWORDS})) AS DOUBLE) / greatest(size(t), 1))
         + 0.3 * (CAST(size(array_distinct(t)) AS DOUBLE) / greatest(size(t), 1)) AS quality
FROM (SELECT doc_id, split(text, ' ') AS t FROM {{docs}} WHERE text IS NOT NULL)
"""


_QUALITY_DUCK = f"""
SELECT doc_id,
       len(t) AS n_tokens,
       CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1) AS unique_ratio,
       CAST(len(list_filter(t, x -> x IN {_STOPWORDS})) AS DOUBLE) / greatest(len(t), 1) AS stop_ratio,
       0.4 * least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
         + 0.3 * (1.0 - CAST(len(list_filter(t, x -> x IN {_STOPWORDS})) AS DOUBLE) / greatest(len(t), 1))
         + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1)) AS quality
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL)
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_view(spark, sf_dir, "__docs_q")
    return spark.sql(_QUALITY_SPARK.format(docs=docs))


# ---------------------------------------------------------------------------
# Language ID: marker-stopword + CJK-codepoint heuristic, then a
# confusion matrix against the labeled lang column
# ---------------------------------------------------------------------------

_LANGID_CASE = """
  CASE WHEN n_cjk > 0 THEN 'zh'
       WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und'
       WHEN c_en >= greatest(c_de, c_fr, c_es) THEN 'en'
       WHEN c_de >= greatest(c_fr, c_es) THEN 'de'
       WHEN c_fr >= c_es THEN 'fr'
       ELSE 'es' END
"""


_LANGID_SPARK = f"""
WITH f AS (
  SELECT doc_id, lang,
         CAST(size(filter(t, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS BIGINT) AS c_en,
         CAST(size(filter(t, x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS BIGINT) AS c_de,
         CAST(size(filter(t, x -> x IN ('le', 'la', 'les', 'et', 'est'))) AS BIGINT) AS c_fr,
         CAST(size(filter(t, x -> x IN ('el', 'los', 'las', 'y', 'es'))) AS BIGINT) AS c_es,
         CAST(size(regexp_extract_all(text, '[\\\\x{{{{4e00}}}}-\\\\x{{{{9fff}}}}]', 0)) AS BIGINT) AS n_cjk
  FROM (SELECT doc_id, lang, text, split(text, ' ') AS t FROM {{docs}}
  WHERE text IS NOT NULL)
)
SELECT lang, {_LANGID_CASE} AS pred_lang, COUNT(*) AS n_docs
FROM f
GROUP BY lang, {_LANGID_CASE}
"""


_LANGID_DUCK = f"""
WITH f AS (
  SELECT doc_id, lang,
         len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS c_en,
         len(list_filter(t, x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS c_de,
         len(list_filter(t, x -> x IN ('le', 'la', 'les', 'et', 'est'))) AS c_fr,
         len(list_filter(t, x -> x IN ('el', 'los', 'las', 'y', 'es'))) AS c_es,
         len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) AS n_cjk
  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents
  WHERE text IS NOT NULL)
)
SELECT lang, {_LANGID_CASE} AS pred_lang, COUNT(*) AS n_docs
FROM f
GROUP BY lang, {_LANGID_CASE}
"""


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_view(spark, sf_dir, "__docs_li")
    return spark.sql(_LANGID_SPARK.format(docs=docs))


# ---------------------------------------------------------------------------
# Document fingerprints: content md5, k-min shingle sketch, rolling hash
# ---------------------------------------------------------------------------

_FP_SPARK = """
WITH sh AS ({shingles})
SELECT d.doc_id,
       md5(trim(regexp_replace(lower(d.text), ' +', ' '))) AS fp_md5,
       md5(concat_ws(',', slice(array_sort(transform(sh.s, x -> md5(x))), 1, 3))) AS fp_kmin,
       aggregate(split(d.text, ''), CAST(0 AS BIGINT),
                 (acc, c) -> (acc * 31 + ascii(c)) % 1000000007) AS fp_roll
FROM {docs} d JOIN sh ON sh.doc_id = d.doc_id
WHERE d.text IS NOT NULL
"""


_FP_DUCK = """
WITH sh AS ({shingles})
SELECT d.doc_id,
       md5(trim(regexp_replace(lower(d.text), ' +', ' ', 'g'))) AS fp_md5,
       md5(concat_ws(',',
           list_sort(list_transform(sh.s, x -> md5(x)))[1],
           list_sort(list_transform(sh.s, x -> md5(x)))[2],
           list_sort(list_transform(sh.s, x -> md5(x)))[3])) AS fp_kmin,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                   -- greatest(.., 0): splitting an EMPTY string yields
                   -- [''] in both engines, but ord('') is -1 in DuckDB
                   -- vs ascii('') = 0 in Spark (degenerate-text net)
                   list_transform(string_split(d.text, ''),
                                  c -> CAST(greatest(ord(c), 0) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_roll
FROM documents d JOIN sh ON sh.doc_id = d.doc_id
WHERE d.text IS NOT NULL
"""


def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_view(spark, sf_dir, "__docs_fp")
    _shingle_sets(spark, sf_dir).createOrReplaceTempView("__fp_sh")
    return spark.sql(
        _FP_SPARK.format(shingles="SELECT * FROM __fp_sh", docs=docs)
    )


def text_stopword_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword filtering as a map-only column expression: tokens
    dropped against a broadcast-literal stoplist, text reassembled."""
    docs = _docs_view(spark, sf_dir, "__docs_sw")
    return spark.sql(
        f"""
        SELECT doc_id,
               CAST(size(t) - size(kept) AS BIGINT) AS n_removed,
               concat_ws(' ', kept) AS clean_text
        FROM (
          SELECT doc_id, t, filter(t, x -> x NOT IN {_STOPWORDS}) AS kept
          FROM (SELECT doc_id, split(text, ' ') AS t FROM {docs}
                WHERE text IS NOT NULL)
        )
        """
    )


_STOPWORD_SQL = f"""
SELECT doc_id,
       len(t) - len(kept) AS n_removed,
       array_to_string(kept, ' ') AS clean_text
FROM (
  SELECT doc_id, t, list_filter(t, x -> x NOT IN {_STOPWORDS}) AS kept
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE text IS NOT NULL)
)
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with exact integer term/document frequencies and a
    smoothed idf; top-3 terms per document. One shuffle for the
    per-(doc, term) counts, a broadcast for the term df table."""
    docs = _docs_view(spark, sf_dir, "__docs_tfidf")
    return spark.sql(
        f"""
        WITH tok AS (
          SELECT doc_id, explode(split(text, ' ')) AS tok FROM {docs}
        ),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
        -- df derives from tf (one row per (doc, term)), not from tok:
        -- a second pass over the raw token stream would re-tokenize
        -- every document (CTEs are not materialized)
        df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        n AS (SELECT COUNT(*) AS n_docs FROM {docs}),
        scored AS (
          SELECT tf.doc_id, tf.tok AS term, tf.tf, df.df,
                 tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS score
          FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        )
        SELECT doc_id, term, tf, df, round(score, 6) AS score
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
          FROM scored
        )
        WHERE rk <= 3
        """
    )


_TFIDF_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok AS term, tf.tf, df.df,
         tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS score
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
)
SELECT doc_id, term, tf, df, round(score, 6) AS score
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
  FROM scored
)
WHERE rk <= 3
"""


_KEYWORDS = "('spark', 'hash', 'vector', 'stream')"


def text_keyword_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword span extraction: (doc, keyword, token position) rows —
    the built-in posexplode+filter form (the UDTF equivalence test in
    tests/test_udtf.py drives the same semantics through a Python
    UDTF, which stays off the contract hot path by design)."""
    docs = _docs_view(spark, sf_dir, "__docs_ks")
    return spark.sql(
        f"""
        SELECT doc_id, tok AS keyword, CAST(pos AS BIGINT) AS position
        FROM {docs}
        LATERAL VIEW posexplode(split(text, ' ')) e AS pos, tok
        WHERE tok IN {_KEYWORDS}
        """
    )


_KEYWORD_SPANS_SQL = f"""
SELECT doc_id, tok AS keyword, CAST(pos - 1 AS BIGINT) AS position
FROM (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
)
WHERE tok IN {_KEYWORDS}
"""


# ---------------------------------------------------------------------------
# Containment dedup (sub-document duplicates)
# ---------------------------------------------------------------------------

_DF_CAP = 20


_CONT_THRESHOLD_PPM = 400_000


#   * ``text_containment_dedup`` — shingle CONTAINMENT |A∩B|/min(|A|,|B|)
#     over rare-shingle candidate pairs: catches a document embedded
#     inside a larger one, which symmetric Jaccard under-scores (a 50-gram
#     doc fully contained in a 500-gram doc has Jaccard ~0.1 but
#     containment 1.0). Same skew-proof df-capped inverted-index
#     candidate generation as the Jaccard op; integer-ppm scores.
def text_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shingle CONTAINMENT: |A∩B| / min(|A|,|B|),
    the metric that catches one document embedded in another (Jaccard
    divides by the UNION and under-scores subset relations). Candidate
    pairs come from the shared-rare-5-gram inverted index (document
    frequency cap {cap}: hot boilerplate shingles are dropped, so the
    index is skew-proof and bucket joins stay bounded); only candidate
    pairs compute the exact intersection. Scores are integer ppm —
    exact in both engines.""".format(cap=_DF_CAP)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__cont_docs")
    sets = spark.sql(
        """
        SELECT doc_id,
               array_distinct(transform(sequence(1, greatest(size(t) - 4, 1)),
                   i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),
                                  element_at(t, i + 2), element_at(t, i + 3),
                                  element_at(t, i + 4)))) AS s
        FROM (SELECT doc_id, split(text, ' ') AS t FROM __cont_docs)
        """
    )
    sets = track_persist(sets)
    inv = sets.select("doc_id", F.explode("s").alias("gram"))
    rare = (
        inv.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= _DF_CAP)
        .select("gram")
    )
    rare_inv = inv.join(rare, "gram")
    a, b = rare_inv.alias("a"), rare_inv.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    y = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    cont_ppm = F.expr(
        "CAST(CAST(size(array_intersect(sa, sb)) AS BIGINT) * 1000000"
        " DIV least(size(sa), size(sb)) AS BIGINT)"
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", cont_ppm.alias("containment_ppm"))
        .where(F.col("containment_ppm") >= _CONT_THRESHOLD_PPM)
    )


_CONTAINMENT_SQL = f"""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 4, 1) + 1),
             i -> concat_ws(' ', t[i], t[i + 1], t[i + 2], t[i + 3], t[i + 4]))) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
), inv AS (
  SELECT doc_id, unnest(s) AS gram FROM sets
), rare AS (
  SELECT gram FROM inv GROUP BY gram HAVING COUNT(*) <= {_DF_CAP}
), rare_inv AS (
  SELECT i.doc_id, i.gram FROM inv i JOIN rare r ON i.gram = r.gram
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rare_inv a JOIN rare_inv b
    ON a.gram = b.gram AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(CAST(len(list_intersect(x.s, y.s)) AS BIGINT) * 1000000
            // LEAST(len(x.s), len(y.s)) AS BIGINT) AS containment_ppm
FROM cand c
JOIN sets x ON x.doc_id = c.doc_a
JOIN sets y ON y.doc_id = c.doc_b
WHERE CAST(CAST(len(list_intersect(x.s, y.s)) AS BIGINT) * 1000000
           // LEAST(len(x.s), len(y.s)) AS BIGINT) >= {_CONT_THRESHOLD_PPM}
"""


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


#   * PII redaction (regex scrub of emails / IPv4, counted per doc),
#
# Determinism: every fraction is ppm via ``floor(x*1e6 + 0.5)``; vector
# scores are int64 fixed-point (floor(x*1e6+0.5) per element, exact
# integer dot products); first-occurrence ties break on (doc_id,
# chunk_idx); all hashes are md5.
#
# PII/text rows are synthetic (the fixture corpus carries no real PII);
# the contact strings are DERIVED DETERMINISTICALLY inside the query so
# the redaction path is exercised end-to-end and oracle-checkable.
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails and IPv4 addresses, report per-doc match counts and
    the redacted-text hash. Pure codegen'd regexp expressions — the
    whole op is a projection, no shuffle, embarrassingly parallel at
    any scale. The synthetic contact suffix (one email + one IP built
    from doc_id) guarantees the redaction path fires on every row."""
    docs = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(body, _EMAIL_RE, "<EMAIL>"), _IPV4_RE, "<IP>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(body, F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(body, F.lit(_IPV4_RE)).cast("bigint").alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


_PII_SQL = f"""
WITH body AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.1' AS s
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(s, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(s, '{_IPV4_RE}')) AS BIGINT) AS n_ips,
       md5(regexp_replace(regexp_replace(s, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_IPV4_RE}', '<IP>', 'g')) AS redacted_md5
FROM body
"""


# ---------------------------------------------------------------------------
# Gopher-style repetition stats
# ---------------------------------------------------------------------------


#   * Gopher-style repetition stats (top-word & duplicate-word
#     fractions — the "remove boilerplate/spam" quality signals),
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition quality signals (Gopher rules): fraction of
    tokens belonging to the most frequent word, and duplicate-token
    fraction (1 - distinct/total). Explode -> two-level aggregation;
    the word-level partial aggregate combines map-side, so the shuffle
    carries (doc, word) counts, not token instances."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    per_word = words.groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    return per_word.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.expr("CAST(MAX(cnt) * 1000000 DIV SUM(cnt) AS BIGINT)").alias(
            "top_word_ppm"
        ),
        F.expr(
            "CAST((SUM(cnt) - COUNT(*)) * 1000000 DIV SUM(cnt) AS BIGINT)"
        ).alias("dup_token_ppm"),
    )


_REPETITION_SQL = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), per_word AS (
  SELECT doc_id, word, COUNT(*) AS cnt FROM words GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct,
       CAST(MAX(cnt) * 1000000 // SUM(cnt) AS BIGINT) AS top_word_ppm,
       CAST((SUM(cnt) - COUNT(*)) * 1000000 // SUM(cnt) AS BIGINT) AS dup_token_ppm
FROM per_word
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Corpus-level chunk dedup (exact substring blocks)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 10


#   * corpus-level chunk dedup (exact substring-block dedup: the
#     C4/RefinedWeb line-dedup pattern generalized to fixed token
#     blocks; first occurrence wins corpus-wide),
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of fixed-size token blocks ACROSS the corpus: every
    doc is cut into 10-token chunks, a chunk survives only at its first
    occurrence (min (doc_id, chunk_idx)) — the C4/RefinedWeb repeated-
    boilerplate remover. The shuffle key is md5(chunk), 32 bytes, never
    the text; the first-occurrence choice is one window over the hash
    partition. Per-doc output: chunks kept vs dropped."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(split(text, ' ')) / {_CHUNK_TOKENS}.0) AS INT) - 1),"
                f" i -> array_join(slice(split(text, ' '), i * {_CHUNK_TOKENS} + 1, {_CHUNK_TOKENS}), ' '))"
            )
        ).alias("chunk_idx", "chunk"),
    ).select("doc_id", "chunk_idx", F.md5("chunk").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    flagged = chunks.withColumn("rn", F.row_number().over(w))
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dropped"),
    )


_CHUNK_DEDUP_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE text IS NOT NULL
), c AS (
  SELECT doc_id, i AS chunk_idx,
         md5(array_to_string(
               list_slice(words, i * {_CHUNK_TOKENS} + 1,
                          i * {_CHUNK_TOKENS} + {_CHUNK_TOKENS}), ' ')) AS h
  FROM w, UNNEST(range(CAST(ceil(len(words) / {_CHUNK_TOKENS}.0) AS BIGINT))) AS t(i)
), r AS (
  SELECT doc_id, chunk_idx,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
  FROM c
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM r
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Unicode NFC normalization (pandas UDF; no Spark builtin)
# ---------------------------------------------------------------------------


def _nfc_udf():
    """Arrow-vectorized NFC, built lazily (pandas_udf needs an active
    session, so decorating at import time would break registry
    collection). unicodedata implements the same Unicode normalization
    spec as DuckDB's utf8proc-backed nfc_normalize, so the two engines
    agree byte-for-byte on the composed result."""

    @pandas_udf("string")
    def _nfc_normalize(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc_normalize


#   * Unicode NFC normalization (Arrow-vectorized pandas UDF — Spark
#     has no built-in normalizer; the oracle is DuckDB's
#     ``nfc_normalize``),
def text_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC-normalize document text. The fixture corpus is ASCII (NFC
    no-op), so the query first derives a DECOMPOSED variant (combining
    acute accent after each 'e') — the normalizer then has real work:
    NFC composes e+U+0301 back into a single codepoint. Hashing the
    result proves the UDF output matches DuckDB's normalizer exactly;
    the char-count delta shows how many compositions happened."""
    # text char-class validity (contract.text_valid): invisible
    # formatting codepoints (soft hyphen, zero-widths, BOM) diverge
    # between unicodedata and utf8proc length/normalization semantics
    # (round-8 probe: NFC length 11 vs 3) and carry no text content
    docs = load_table(spark, sf_dir, "documents").where(text_valid())
    nfc = _nfc_udf()
    decomposed = F.regexp_replace(F.col("text"), "e", "é")
    return docs.select(
        "doc_id",
        F.length(decomposed).alias("len_decomposed"),
        F.length(nfc(decomposed)).alias("len_nfc"),
        F.md5(nfc(decomposed)).alias("nfc_md5"),
    )


_NFC_SQL = f"""
WITH d AS (
  SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS s FROM documents
  WHERE {TEXT_VALID_DUCK}
)
SELECT doc_id,
       CAST(length(s) AS INTEGER) AS len_decomposed,
       CAST(length(nfc_normalize(s)) AS INTEGER) AS len_nfc,
       md5(nfc_normalize(s)) AS nfc_md5
FROM d
"""


# ---------------------------------------------------------------------------
# Corpus vocabulary stats
# ---------------------------------------------------------------------------


#   * corpus vocabulary stats (two-level map-side-combining aggregation),
def text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row corpus summary: token count, vocabulary size, hapax
    count, and the modal term. The token->count aggregation combines
    map-side (the shuffle carries one row per distinct word per
    mapper); the final fold over ~vocab-size rows is trivial. The
    modal term ties break lexicographically via max(struct)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    counts = words.groupBy("word").agg(F.count("*").alias("cnt"))
    return counts.agg(
        F.sum("cnt").alias("total_tokens"),
        F.count("*").alias("vocab_size"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("hapax_count"),
        F.max(F.struct("cnt", "word")).getField("word").alias("top_term"),
        F.max(F.struct("cnt", "word")).getField("cnt").alias("top_term_count"),
    )


_VOCAB_SQL = """
WITH counts AS (
  SELECT word, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  GROUP BY word
), top AS (
  SELECT word, cnt FROM counts ORDER BY cnt DESC, word DESC LIMIT 1
)
SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM counts) AS total_tokens,
       (SELECT COUNT(*) FROM counts) AS vocab_size,
       (SELECT CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM counts) AS hapax_count,
       (SELECT word FROM top) AS top_term,
       (SELECT cnt FROM top) AS top_term_count
"""


def text_symbol_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class quality signals (the rest of the Gopher rule
    inputs): digit / uppercase / symbol(non-alnum-non-space) counts
    and their ppm share of characters, plus the alphabetic-word share
    of tokens. Pure regexp_count projections — codegen, no shuffle.
    High symbol or digit share flags markup/tables/code; low alpha-word
    share flags delimiter soup."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    counted = docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(r"[0-9]"))
        .cast("bigint")
        .alias("n_digits"),
        F.regexp_count(F.col("text"), F.lit(r"[A-Z]"))
        .cast("bigint")
        .alias("n_upper"),
        F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9 ]"))
        .cast("bigint")
        .alias("n_symbols"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
        F.expr("size(filter(split(text, ' '), w -> w rlike '^[A-Za-z]+$'))")
        .cast("bigint")
        .alias("__alpha_words"),
        F.size(F.split("text", " ")).cast("bigint").alias("__n_words"),
    )
    # integer DIV in BOTH engines: Spark's double-cast truncates while
    # DuckDB's CAST(double AS BIGINT) rounds — float division here
    # would hash-mismatch on half-ppm boundaries
    return counted.select(
        "doc_id",
        "n_digits",
        "n_upper",
        "n_symbols",
        "n_chars_measured",
        F.expr("__alpha_words * 1000000 DIV __n_words").alias("alpha_word_ppm"),
        F.expr("n_symbols * 1000000 DIV n_chars_measured").alias("symbol_ppm"),
    )


_SYMBOL_SQL = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
       CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_symbols,
       CAST(length(text) AS BIGINT) AS n_chars_measured,
       CAST(CAST(len(list_filter(string_split(text, ' '),
                                 w -> regexp_full_match(w, '[A-Za-z]+'))) AS BIGINT)
            * 1000000 // len(string_split(text, ' ')) AS BIGINT) AS alpha_word_ppm,
       CAST(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT)
            * 1000000 // length(text) AS BIGINT) AS symbol_ppm
FROM documents
WHERE text IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Bigram rarity scoring
# ---------------------------------------------------------------------------

_BIGRAM_SPARK = """
WITH toks AS (
  SELECT doc_id, filter(split(text, ' '), x -> x != '') AS t FROM {docs}
), bg AS (
  SELECT doc_id,
         explode(transform(sequence(1, size(t) - 1),
                           i -> concat(t[i-1], ' ', t[i]))) AS bigram
  FROM toks WHERE size(t) >= 2
), freq AS (
  SELECT bigram, COUNT(*) AS f FROM bg GROUP BY bigram
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(1000000 DIV f) AS BIGINT) AS rarity_sum_ppm,
       CAST(SUM(1000000 DIV f) DIV COUNT(*) AS BIGINT) AS rarity_avg_ppm,
       CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
FROM bg JOIN freq USING (bigram)
GROUP BY doc_id
"""


_BIGRAM_DUCK = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
), bg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
  FROM toks, (SELECT unnest(range(1, 600)) AS i)
  WHERE i <= len(t) - 1
), freq AS (
  SELECT bigram, COUNT(*) AS f FROM bg GROUP BY bigram
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(1000000 // f) AS BIGINT) AS rarity_sum_ppm,
       CAST(SUM(1000000 // f) // COUNT(*) AS BIGINT) AS rarity_avg_ppm,
       CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
FROM bg JOIN freq USING (bigram)
GROUP BY doc_id
"""


#   * ``text_bigram_rarity`` — train corpus-wide bigram counts, score
#     every document by average inverse bigram frequency (integer ppm):
#     the cheap novelty / memorization-risk signal (rare-n-gram-heavy
#     documents) used to triage training corpora. Integer division per
#     term keeps the score associative and engine-exact.
#
# All scores are scaled integers (ppm): float division would make the
# result order-dependent; ``1000000 DIV f`` is exact and identical in
# Spark and DuckDB.
def text_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average inverse corpus-bigram-frequency per document, in exact
    integer ppm. The frequency table is itself a one-shuffle count;
    the score join ships (bigram, f) pairs — no document bodies move
    after the initial tokenize."""
    docs = _docs_view(spark, sf_dir, "__docs_bigram")
    return spark.sql(_BIGRAM_SPARK.format(docs=docs))


# ---------------------------------------------------------------------------
# BPE first-merge pair statistics
# ---------------------------------------------------------------------------

_BPE_SPARK = """
WITH toks AS (
  SELECT explode(filter(split(text, ' '), x -> x != '')) AS tok FROM {docs}
), pairs AS (
  SELECT explode(transform(sequence(1, length(tok) - 1),
                           i -> substring(tok, i, 2))) AS pair
  FROM toks WHERE length(tok) BETWEEN 2 AND 512
), counted AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY pair
)
SELECT pair, n, CAST(rk AS BIGINT) AS rk
FROM (SELECT pair, n,
             row_number() OVER (ORDER BY n DESC, pair) AS rk
      FROM counted)
WHERE rk <= 20
"""


_BPE_DUCK = """
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
  FROM documents
), pairs AS (
  SELECT substring(tok, i, 2) AS pair
  FROM toks, (SELECT unnest(range(1, 512)) AS i)
  WHERE length(tok) BETWEEN 2 AND 512 AND i <= length(tok) - 1
), counted AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY pair
)
SELECT pair, n, CAST(rk AS BIGINT) AS rk
FROM (SELECT pair, n,
             row_number() OVER (ORDER BY n DESC, pair) AS rk
      FROM counted)
WHERE rk <= 20
"""


#   * ``text_bpe_pair_stats`` — the first step of BPE tokenizer
#     training: global adjacent-character-pair frequencies within
#     tokens, top 20. On 100 TB this is the exact shape of the real
#     thing — explode to (pair) keys, one combine-heavy count, tiny
#     result.
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs inside tokens — the statistic
    the first BPE merge is chosen from. Partial counts combine
    map-side (a few hundred distinct pairs), so the shuffle is tiny
    regardless of corpus size; the top-k window runs on the counted
    result, not the raw pairs. Tokens longer than
    contract.TEXT_MAX_TOKEN (512, pinned by the hygiene test) are
    corrupt ingest (minified blobs, not words) and are excluded
    symmetrically — they'd mint a linear-in-length pair stream each."""
    docs = _docs_view(spark, sf_dir, "__docs_bpe")
    return spark.sql(_BPE_SPARK.format(docs=docs))


# ---------------------------------------------------------------------------
# Per-language corpus divergence (total variation, integer ppm)
# ---------------------------------------------------------------------------

# built once in the DataFrame layer and persisted (bounded by
# |vocab| x |langs|, the cacheable summary): four CTE references would
# inline-and-recompute the tokenize+count pass four times
_DIVERGENCE_COUNTS_SPARK = """
SELECT lang, t, COUNT(*) AS c
FROM (SELECT lang, explode(filter(split(text, ' '), x -> x != '')) AS t
      FROM {docs})
GROUP BY 1, 2
"""


_DIVERGENCE_SPARK = """
WITH lang_counts AS (
  SELECT lang, t, c FROM {counts}
), lang_totals AS (
  SELECT lang, SUM(c) AS n FROM lang_counts GROUP BY 1
), corpus_counts AS (
  SELECT t, SUM(c) AS cc FROM lang_counts GROUP BY 1
), corpus_total AS (
  SELECT SUM(cc) AS nn FROM corpus_counts
), joined AS (
  SELECT lt.lang,
         coalesce(lc.c, 0) * 1000000 DIV lt.n AS p_ppm,
         cc.cc * 1000000 DIV ct.nn AS q_ppm
  FROM corpus_counts cc
  CROSS JOIN corpus_total ct
  CROSS JOIN lang_totals lt
  LEFT JOIN lang_counts lc ON lc.t = cc.t AND lc.lang = lt.lang
)
SELECT lang,
       CAST(SUM(abs(p_ppm - q_ppm)) DIV 2 AS BIGINT) AS tv_vs_corpus_ppm,
       CAST(SUM(CASE WHEN p_ppm > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS shared_vocab,
       CAST(COUNT(*) AS BIGINT) AS corpus_vocab
FROM joined
GROUP BY lang
"""


_DIVERGENCE_DUCK = """
WITH tok AS (
  SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
  FROM documents
), lang_counts AS (
  SELECT lang, t, COUNT(*) AS c FROM tok GROUP BY 1, 2
), lang_totals AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM lang_counts GROUP BY 1
), corpus_counts AS (
  SELECT t, CAST(SUM(c) AS BIGINT) AS cc FROM lang_counts GROUP BY 1
), corpus_total AS (
  SELECT CAST(SUM(cc) AS BIGINT) AS nn FROM corpus_counts
), joined AS (
  SELECT lt.lang,
         COALESCE(lc.c, 0) * 1000000 // lt.n AS p_ppm,
         cc.cc * 1000000 // ct.nn AS q_ppm
  FROM corpus_counts cc
  CROSS JOIN corpus_total ct
  CROSS JOIN lang_totals lt
  LEFT JOIN lang_counts lc ON lc.t = cc.t AND lc.lang = lt.lang
)
SELECT lang,
       CAST(SUM(abs(p_ppm - q_ppm)) // 2 AS BIGINT) AS tv_vs_corpus_ppm,
       CAST(SUM(CASE WHEN p_ppm > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS shared_vocab,
       CAST(COUNT(*) AS BIGINT) AS corpus_vocab
FROM joined
GROUP BY lang
"""


#   * ``text_source_divergence`` — per-language total-variation distance
#     (integer ppm) between the language's token distribution and the
#     whole-corpus distribution: the drift/skew statistic a corpus
#     mixture monitor tracks. Probabilities are floored integer ppm so
#     the statistic is associative and engine-exact.
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance (ppm) of each language's token
    distribution from the whole-corpus distribution, over the corpus
    vocabulary. Floored integer ppm keeps the sum associative; the
    per-language expansion is |vocab| x |langs| rows of three BIGINTs
    — bounded by vocabulary, not corpus size."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_div")
    counts = track_persist(
        spark.sql(_DIVERGENCE_COUNTS_SPARK.format(docs="__docs_div"))
    )
    counts.createOrReplaceTempView("__docs_div_counts")
    return spark.sql(_DIVERGENCE_SPARK.format(counts="__docs_div_counts"))


# ---------------------------------------------------------------------------
# Unigram LM surprisal
# ---------------------------------------------------------------------------

def _surprisal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame form of the unigram-surprisal plan. The vocabulary
    (token -> corpus count) is persisted via ``track_persist``: it is
    bounded by vocabulary size (not corpus size — ~1M rows for a web
    corpus), and without the persist each of its three consumers
    (scored join, total-token scalar) would re-run the corpus
    explode+count."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.expr("filter(split(text, ' '), x -> x != '')")).alias(
            "tok"
        ),
    )
    counts = track_persist(tok.groupBy("tok").agg(F.count("*").alias("c")))
    tot = counts.agg(F.sum("c").alias("s"))
    scored = (
        tok.join(counts, "tok")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "doc_id",
            "CAST(floor(-ln(CAST(c AS DOUBLE) / s) * 1000000) AS BIGINT)"
            " AS cost_micro",
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("cost_micro").alias("surprisal_micro"),
        F.expr("SUM(cost_micro) DIV COUNT(*)").alias("avg_surprisal_micro"),
    )


_SURPRISAL_DUCK = """
WITH tok AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
        FROM documents), UNNEST(t) AS u(tok)
), counts AS (
  SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS s FROM counts
), scored AS (
  SELECT t.doc_id,
         CAST(floor(-ln(CAST(c.c AS DOUBLE) / tot.s) * 1000000) AS BIGINT)
           AS cost_micro
  FROM tok t JOIN counts c ON t.tok = c.tok CROSS JOIN tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(cost_micro) AS BIGINT) AS surprisal_micro,
       CAST(SUM(cost_micro) // COUNT(*) AS BIGINT) AS avg_surprisal_micro
FROM scored
GROUP BY doc_id
"""


#   * ``text_unigram_surprisal`` — train a corpus unigram LM in one
#     aggregate pass, then score every document by its total / average
#     surprisal (-ln p(token), micro-nats). The classic perplexity
#     proxy for quality filtering (CCNet, Wenzek et al. 2020 use a
#     KenLM; the unigram variant is its one-shuffle Spark shape:
#     explode -> count -> join back on token). Per-token cost is
#     floored to integer micro-nats BEFORE summing, so the aggregate is
#     order-independent and engine-exact.
#
# Engine parity notes: md5 -> int uses Spark ``conv(substring(md5,1,
# 15),16,10)`` vs DuckDB ``CAST('0x'||substring(md5,1,15) AS
# BIGINT)`` (established in textdedup.py); ``ln``/``floor`` on the
# same double inputs agree across libm/JVM within the floored
# precision; all sums are over BIGINT terms.
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram LM + per-document surprisal. The corpus is
    exploded ONCE (the persisted vocabulary severs the other two
    consumers' lineage); shuffles are the vocabulary count and the
    doc re-aggregation, and the token->count join is AQE-broadcast
    when the vocabulary fits (at 100 TB prune to a min-count vocab,
    back-off cost for OOV)."""
    return _surprisal_plan(spark, sf_dir)


# ---------------------------------------------------------------------------
# Flesch readability
# ---------------------------------------------------------------------------

_READABILITY_SPARK = """
WITH base AS (
  SELECT doc_id,
         size(filter(split(text, ' '), x -> x != '')) AS w,
         size(split(text, '[.!?]+')) - 1 AS enders,
         length(regexp_replace(lower(text), '[aeiouy]+', '@'))
           - length(regexp_replace(lower(text), '[aeiouy]', '')) AS syl
  FROM {docs}
), norm AS (
  SELECT doc_id, w,
         CASE WHEN enders > 0 THEN enders
              ELSE CAST(ceil(w / 15.0) AS INT) END AS s,
         greatest(syl, 1) AS syl
  FROM base WHERE w > 0
)
SELECT doc_id,
       CAST(w AS BIGINT) AS n_words,
       CAST(s AS BIGINT) AS n_sentences,
       CAST(syl AS BIGINT) AS n_syllables,
       CAST(floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                   - 84.6 * (CAST(syl AS DOUBLE) / w)) * 1000) AS BIGINT)
         AS flesch_milli
FROM norm
"""


_READABILITY_DUCK = """
WITH base AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS w,
         len(regexp_split_to_array(text, '[.!?]+')) - 1 AS enders,
         length(regexp_replace(lower(text), '[aeiouy]+', '@', 'g'))
           - length(regexp_replace(lower(text), '[aeiouy]', '', 'g')) AS syl
  FROM documents
), norm AS (
  SELECT doc_id, w,
         CASE WHEN enders > 0 THEN enders
              ELSE CAST(ceil(w / 15.0) AS INT) END AS s,
         greatest(syl, 1) AS syl
  FROM base WHERE w > 0
)
SELECT doc_id,
       CAST(w AS BIGINT) AS n_words,
       CAST(s AS BIGINT) AS n_sentences,
       CAST(syl AS BIGINT) AS n_syllables,
       CAST(floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                   - 84.6 * (CAST(syl AS DOUBLE) / w)) * 1000) AS BIGINT)
         AS flesch_milli
FROM norm
"""


#   * ``text_readability`` — Flesch reading-ease over integer counts
#     (words, sentence enders with a 15-token fallback for
#     unpunctuated corpora, vowel-run syllable proxy). One projection
#     scan, no shuffle at all until the (absent) aggregation; emits
#     milli-units from a fixed-shape double expression.
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease, integer inputs, milli-unit output. Pure
    per-row projection — zero exchanges, whole-stage codegen end to
    end; the sentence fallback (ceil(words/15)) keeps the score
    defined on unpunctuated corpora like this fixture."""
    docs = _docs_view(spark, sf_dir, "textlm_readability_docs")
    return spark.sql(_READABILITY_SPARK.format(docs=docs))


# ---------------------------------------------------------------------------
# Boilerplate strip (drop-all repeated blocks)
# ---------------------------------------------------------------------------

_BP_TOKENS = 3


_BP_MIN_DOCS = 5


_BOILER_SPARK = f"""
WITH w AS (
  SELECT doc_id, filter(split(text, ' '), x -> x != '') AS words FROM {{docs}}
), c AS (
  SELECT doc_id, i AS block_idx,
         array_join(slice(words, i * {_BP_TOKENS} + 1, {_BP_TOKENS}), ' ')
           AS block
  FROM w
  LATERAL VIEW explode(sequence(0,
      CAST(ceil(size(words) / {_BP_TOKENS}.0) AS INT) - 1)) e AS i
  WHERE size(words) > 0
), h AS (
  SELECT doc_id, block_idx, block, md5(block) AS hh FROM c
), boiler AS (
  SELECT hh FROM h GROUP BY hh
  HAVING COUNT(DISTINCT doc_id) >= {_BP_MIN_DOCS}
), flagged AS (
  SELECT h.doc_id, h.block_idx, h.block,
         (b.hh IS NOT NULL) AS is_boiler
  FROM h LEFT JOIN boiler b ON h.hh = b.hh
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       md5(array_join(transform(
             array_sort(collect_list(CASE WHEN NOT is_boiler
                 THEN struct(block_idx, block) END)),
             x -> x.block), ' ')) AS clean_md5
FROM flagged
GROUP BY doc_id
"""


_BOILER_DUCK = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS words
  FROM documents
), c AS (
  SELECT doc_id, i AS block_idx,
         array_to_string(list_slice(words, i * {_BP_TOKENS} + 1,
                                    i * {_BP_TOKENS} + {_BP_TOKENS}), ' ')
           AS block
  FROM w, UNNEST(range(CAST(ceil(len(words) / {_BP_TOKENS}.0) AS BIGINT)))
           AS t(i)
  WHERE len(words) > 0
), h AS (
  SELECT doc_id, block_idx, block, md5(block) AS hh FROM c
), boiler AS (
  SELECT hh FROM h GROUP BY hh
  HAVING COUNT(DISTINCT doc_id) >= {_BP_MIN_DOCS}
), flagged AS (
  SELECT h.doc_id, h.block_idx, h.block,
         (b.hh IS NOT NULL) AS is_boiler
  FROM h LEFT JOIN boiler b ON h.hh = b.hh
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       md5(coalesce(array_to_string(list(block ORDER BY block_idx)
             FILTER (WHERE NOT is_boiler), ' '), '')) AS clean_md5
FROM flagged
GROUP BY doc_id
"""


#   * ``text_boilerplate_strip`` — the CCNet/RefinedWeb repeated-block
#     remover in its DROP-ALL form (vs ``text_chunk_dedup``'s
#     keep-first): any 3-token block occurring in >= 5 distinct
#     documents is boilerplate and every occurrence is removed; the
#     document is reassembled in order from surviving blocks. The
#     frequency pass shuffles 32-byte md5 keys; reassembly is one
#     groupBy with an order-struct sort (no window over the corpus).
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop EVERY occurrence of any 3-token block shared by >= 5
    distinct documents, reassemble documents in order, and report the
    removal stats plus the md5 of the cleaned text. The frequency
    pass groups on md5(block) (32-byte shuffle keys); the block text
    itself travels only through the per-document reassembly groupBy
    (same width as the input corpus — the unavoidable floor for a
    rewrite op). Spark's unordered ``collect_list`` is made
    deterministic with an (idx, block) struct sort; the oracle uses
    DuckDB's ordered-filtered ``list`` aggregate."""
    docs = _docs_view(spark, sf_dir, "textlm_boiler_docs")
    return spark.sql(_BOILER_SPARK.format(docs=docs))


# ---------------------------------------------------------------------------
# Per-source token entropy
# ---------------------------------------------------------------------------

_ENTROPY_SPARK = """
WITH tok AS (
  SELECT source, tok
  FROM (SELECT source, filter(split(text, ' '), x -> x != '') AS t
        FROM {docs})
  LATERAL VIEW explode(t) e AS tok
), counts AS (
  SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok
), tot AS (
  SELECT source, SUM(c) AS s, COUNT(*) AS vocab FROM counts GROUP BY source
)
SELECT c.source,
       CAST(max(t.s) AS BIGINT) AS n_tokens,
       CAST(max(t.vocab) AS BIGINT) AS n_vocab,
       CAST(SUM(CAST(floor(-(CAST(c.c AS DOUBLE) / t.s)
                           * ln(CAST(c.c AS DOUBLE) / t.s) * 1e9)
                     AS BIGINT)) AS BIGINT) AS entropy_nano_nats
FROM counts c JOIN tot t ON c.source = t.source
GROUP BY c.source
"""


_ENTROPY_DUCK = """
WITH tok AS (
  SELECT source, tok
  FROM (SELECT source, list_filter(string_split(text, ' '), x -> x != '') AS t
        FROM documents), UNNEST(t) AS u(tok)
), counts AS (
  SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok
), tot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS s, COUNT(*) AS vocab
  FROM counts GROUP BY source
)
SELECT c.source,
       CAST(max(t.s) AS BIGINT) AS n_tokens,
       CAST(max(t.vocab) AS BIGINT) AS n_vocab,
       CAST(SUM(CAST(floor(-(CAST(c.c AS DOUBLE) / t.s)
                           * ln(CAST(c.c AS DOUBLE) / t.s) * 1e9)
                     AS BIGINT)) AS BIGINT) AS entropy_nano_nats
FROM counts c JOIN tot t ON c.source = t.source
GROUP BY c.source
"""


def text_entropy_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution (nano-nats,
    per-term floor before the sum so the statistic is exact). Low
    entropy flags TEMPLATED/repetitive sources in a training mix; the
    cost is one (source, token) count aggregate — map-side combined —
    plus a per-source rollup. The per-term expression is written with
    p multiplied before ln so both engines evaluate the identical
    double tree."""
    docs = _docs_view(spark, sf_dir, "textlm_entropy_docs")
    return spark.sql(_ENTROPY_SPARK.format(docs=docs))


# ---------------------------------------------------------------------------
# Zipf exponent of the vocabulary
# ---------------------------------------------------------------------------

_ZIPF_MIN_COUNT = 5


_ZIPF_FINISH = """
SELECT CAST(n AS BIGINT) AS n_vocab,
       CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6)
            AS BIGINT) AS slope_micro,
       CAST(floor((CAST(sy AS DOUBLE)
                   - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                     * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) * 1e6)
            AS BIGINT) AS intercept_micro,
       CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                  / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)) * 1e6)
            AS BIGINT) AS r2_micro
FROM mom
"""


#   * ``text_zipf_fit`` — fit the Zipf exponent of the corpus
#     vocabulary: rank tokens by frequency (global_rank again — at
#     trillion-token scale the vocabulary is itself a big table), take
#     fixed-point logs (micro-precision, the op's declared contract, so
#     both engines floor the same doubles), and reuse the exact-
#     power-sum OLS finish. Slope ≈ −1 is the healthy-corpus signal.
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit: OLS of log-frequency on log-rank over the token
    vocabulary (count >= 5). Logs are floored to micro fixed-point —
    the declared precision of the op — so every downstream sum is an
    exact integer/decimal. Ranking uses ``global_rank`` on (-count,
    token): at web-corpus scale the vocabulary is far too large for a
    single-partition ORDER BY window."""
    docs = load_table(spark, sf_dir, "documents")
    # persisted: the tokenize+count aggregate would otherwise run twice
    # (global_rank's auto-sizing count pass + the rank pass)
    vocab = track_persist(
        docs.select(
            F.explode(
                F.expr("filter(split(text, ' '), x -> x != '')")
            ).alias("tok")
        )
        .groupBy("tok")
        .count()
        .where(F.col("count") >= _ZIPF_MIN_COUNT)
        .select("tok", F.col("count").alias("c"), (-F.col("count")).alias("negc"))
    )
    ranked = global_rank(vocab, order_by=["negc", "tok"])
    # Stay in the DataFrame API end to end: re-analyzing the ranked
    # relation through a temp view + spark.sql makes the CacheManager
    # re-map the rank fence's InMemoryRelation output and Spark 4.1
    # fails the attribute mapping (NoSuchElementException on the
    # computed order column). The chained selects below are the same
    # logical plan without the re-analysis round-trip.
    pts = ranked.selectExpr(
        "CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x",
        "CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y",
    )
    sums = pts.selectExpr(
        "COUNT(*) AS n",
        "CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx",
        "CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy",
        "CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx",
        "CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy",
        "CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy",
    )
    mom = sums.selectExpr(
        "n",
        "sx",
        "sy",
        "CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS num",
        "CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS den",
        "CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS deny",
    )
    return mom.selectExpr(
        "CAST(n AS BIGINT) AS n_vocab",
        "CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6)"
        " AS BIGINT) AS slope_micro",
        "CAST(floor((CAST(sy AS DOUBLE)"
        "            - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"
        "              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) * 1e6)"
        " AS BIGINT) AS intercept_micro",
        "CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)"
        "           / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)) * 1e6)"
        " AS BIGINT) AS r2_micro",
    )


_ZIPF_DUCK = f"""
WITH tok AS (
  SELECT tok
  FROM (SELECT list_filter(string_split(text, ' '), x -> x != '') AS t
        FROM documents), UNNEST(t) AS u(tok)
), vocab AS (
  SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
  HAVING COUNT(*) >= {_ZIPF_MIN_COUNT}
), ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY -c, tok) AS rank FROM vocab
), pts AS (
  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
  FROM ranked
), sums AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pts
), mom AS (
  SELECT n, sx, sy,
         CAST(n AS HUGEINT) * sxy - sx * sy AS num,
         CAST(n AS HUGEINT) * sxx - sx * sx AS den,
         CAST(n AS HUGEINT) * syy - sy * sy AS deny
  FROM sums
)
{_ZIPF_FINISH}
"""


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth
# ---------------------------------------------------------------------------

_HEAPS_SPARK = """
WITH w AS (
  SELECT doc_id, filter(split(text, ' '), x -> x != '') AS words
  FROM {docs} WHERE text IS NOT NULL
), bounds AS (
  SELECT MIN(doc_id) AS lo, MAX(doc_id) + 1 AS hi FROM w
), tok AS (
  SELECT doc_id, tok FROM w LATERAL VIEW explode(words) t AS tok
), firsts AS (
  SELECT tok, MIN(doc_id) AS fd FROM tok GROUP BY tok
), fb AS (
  SELECT LEAST((fd - lo) * 10 DIV (hi - lo), 9) AS b, COUNT(*) AS nv
  FROM firsts CROSS JOIN bounds GROUP BY 1
), db AS (
  SELECT LEAST((doc_id - lo) * 10 DIV (hi - lo), 9) AS b,
         COUNT(*) AS nd, SUM(size(words)) AS nt
  FROM w CROSS JOIN bounds GROUP BY 1
)
SELECT CAST(db.b AS INT) AS decile,
       CAST(SUM(nd) OVER (ORDER BY db.b ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_docs,
       CAST(SUM(nt) OVER (ORDER BY db.b ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_tokens,
       CAST(SUM(coalesce(nv, 0)) OVER (ORDER BY db.b
                                       ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_vocab
FROM db LEFT JOIN fb ON db.b = fb.b
"""


_HEAPS_DUCK = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS words
  FROM documents WHERE text IS NOT NULL
), bounds AS (
  SELECT MIN(doc_id) AS lo, MAX(doc_id) + 1 AS hi FROM w
), tok AS (
  SELECT doc_id, tok FROM w, UNNEST(words) AS t(tok)
), firsts AS (
  SELECT tok, MIN(doc_id) AS fd FROM tok GROUP BY tok
), fb AS (
  SELECT LEAST((fd - lo) * 10 // (hi - lo), 9) AS b, COUNT(*) AS nv
  FROM firsts CROSS JOIN bounds GROUP BY 1
), db AS (
  SELECT LEAST((doc_id - lo) * 10 // (hi - lo), 9) AS b,
         COUNT(*) AS nd, SUM(len(words)) AS nt
  FROM w CROSS JOIN bounds GROUP BY 1
)
SELECT CAST(db.b AS INT) AS decile,
       CAST(SUM(nd) OVER (ORDER BY db.b ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_docs,
       CAST(SUM(nt) OVER (ORDER BY db.b ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_tokens,
       CAST(SUM(coalesce(nv, 0)) OVER (ORDER BY db.b
                                       ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_vocab
FROM db LEFT JOIN fb ON db.b = fb.b
"""


#   * ``text_heaps_law`` — vocabulary growth at ten corpus checkpoints
#     (Heaps' law curve): each token contributes to the decile of its
#     FIRST document, so one token-min aggregate + two bounded 10-row
#     windows produce the whole cumulative curve — no per-checkpoint
#     rescan of the corpus.
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative docs / tokens / distinct vocabulary at ten doc-id
    checkpoints. Each token is charged to the decile of its FIRST
    document (one token-min aggregate), so the full growth curve
    costs one corpus pass plus windows over two ≤10-row relations —
    the sub-linear-vocabulary (Heaps) diagnostic without re-scanning
    any prefix."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r21_heaps_docs"
    )
    return spark.sql(_HEAPS_SPARK.format(docs="r21_heaps_docs"))


# ---------------------------------------------------------------------------
# Bigram-LM cross-entropy per source
# ---------------------------------------------------------------------------
# Add-one smoothing over the corpus bigram table:
#   P(w2 | w1) = (c(w1,w2) + 1) / (ctx(w1) + V)
# where ctx(w1) counts w1 as a bigram left-context and V is the
# corpus unigram vocabulary. Every document bigram exists in the LM
# (it was trained on the same corpus), so the join is inner and the
# per-occurrence NLL is floored to nano-nats before the per-source
# sum. Cross-entropy per token = sum DIV count, exact.

_BLM_SPARK = """
WITH toks AS (
  SELECT source, filter(split(text, ' '), x -> x != '') AS t FROM {docs}
), bg AS (
  SELECT source, b.w1, b.w2
  FROM toks
  LATERAL VIEW explode(transform(sequence(1, size(t) - 1),
                       i -> named_struct('w1', t[i-1], 'w2', t[i]))) e AS b
  WHERE size(t) >= 2
), freq AS (
  SELECT w1, w2, COUNT(*) AS f FROM bg GROUP BY w1, w2
), ctx AS (
  SELECT w1, SUM(f) AS cw FROM freq GROUP BY w1
), voc AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT explode(t) AS tok FROM toks)
), scored AS (
  SELECT bg.source,
         CAST(floor(-ln((CAST(freq.f AS DOUBLE) + 1)
                        / (CAST(ctx.cw AS DOUBLE) + voc.v)) * 1e9)
           AS BIGINT) AS nll_nano
  FROM bg
  JOIN freq ON bg.w1 = freq.w1 AND bg.w2 = freq.w2
  JOIN ctx ON bg.w1 = ctx.w1
  CROSS JOIN voc
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(nll_nano) AS BIGINT) AS nll_sum_nano,
       CAST(SUM(nll_nano) DIV COUNT(*) AS BIGINT) AS xent_nano_per_bigram
FROM scored GROUP BY source
"""


_BLM_DUCK = """
WITH toks AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
), bg AS (
  SELECT source, t[i] AS w1, t[i + 1] AS w2
  FROM toks, (SELECT unnest(range(1, 600)) AS i)
  WHERE i <= len(t) - 1
), freq AS (
  SELECT w1, w2, COUNT(*) AS f FROM bg GROUP BY w1, w2
), ctx AS (
  SELECT w1, SUM(f) AS cw FROM freq GROUP BY w1
), voc AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT unnest(t) AS tok FROM toks)
), scored AS (
  SELECT bg.source,
         CAST(floor(-ln((CAST(freq.f AS DOUBLE) + 1)
                        / (CAST(ctx.cw AS DOUBLE) + voc.v)) * 1e9)
           AS BIGINT) AS nll_nano
  FROM bg
  JOIN freq ON bg.w1 = freq.w1 AND bg.w2 = freq.w2
  JOIN ctx ON bg.w1 = ctx.w1
  CROSS JOIN voc
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(nll_nano) AS BIGINT) AS nll_sum_nano,
       CAST(SUM(nll_nano) // COUNT(*) AS BIGINT) AS xent_nano_per_bigram
FROM scored GROUP BY source
"""


#   * ``text_bigram_perplexity`` — add-one-smoothed corpus bigram LM
#     cross-entropy per source (nano-nats per bigram): the conditional
#     upgrade of ``text_unigram_surprisal`` (KenLM shape). Tokenize
#     once; the LM is one (w1,w2) count shuffle; scoring ships word
#     pairs, never documents.
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cross-entropy under an add-one corpus bigram LM
    (nano-nats per bigram) — the conditional-probability upgrade of
    text_unigram_surprisal and the cheap KenLM-style fluency signal
    for corpus triage. Tokenize once; the LM is one (w1, w2) count
    shuffle plus its w1 rollup; scoring joins ship word pairs and
    counts, never document bodies. Sources whose text is templated
    score low; incoherent sources score high."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r27_blm_docs"
    )
    return spark.sql(_BLM_SPARK.format(docs="r27_blm_docs"))


# ---------------------------------------------------------------------------
# Cross-document substring-span dedup
# ---------------------------------------------------------------------------

_SSD_W = 8  # span width in tokens (matches the decontamination 8-gram)


_SSD_TAIL = f"""
, dup AS (
  SELECT h FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
), ds AS (
  SELECT s.doc_id, s.start, s.start + {_SSD_W} - 1 AS fin
  FROM spans s JOIN dup d ON s.h = d.h
), isl AS (
  SELECT doc_id, start, fin,
         CASE WHEN start > coalesce(MAX(fin) OVER (
                PARTITION BY doc_id ORDER BY start, fin
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_isl
  FROM ds
), grp AS (
  SELECT doc_id, start, fin,
         SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY start, fin
                            ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
), cov AS (
  SELECT doc_id, island, MAX(fin) - MIN(start) + 1 AS covered
  FROM grp GROUP BY doc_id, island
), doc_cov AS (
  SELECT doc_id, SUM(covered) AS dup_toks FROM cov GROUP BY doc_id
)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t.n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(coalesce(dc.dup_toks, 0)) AS BIGINT) AS dup_tokens,
       CAST(SUM(coalesce(dc.dup_toks, 0)) * 1000000 {{idiv}} SUM(t.n_tok)
         AS BIGINT) AS dup_ppm
FROM sized t
LEFT JOIN doc_cov dc ON t.doc_id = dc.doc_id
GROUP BY t.source
"""


_SSD_SPANS_SPARK = f"""
SELECT doc_id, i AS start,
       md5(array_join(slice(t, i, {_SSD_W}), ' ')) AS h
FROM (SELECT doc_id, filter(split(text, ' '), x -> x != '') AS t
      FROM {{docs}})
LATERAL VIEW explode(sequence(1, size(t) - {_SSD_W} + 1)) e AS i
WHERE size(t) >= {_SSD_W}
"""


# ``spans`` is consumed twice (the >=2-docs test AND the coverage
# join); as a CTE the tokenize+hash explode would run twice, so the
# Spark path persists it once and the SQL below reads the view.
_SSD_SPARK = f"""
WITH spans AS (
  SELECT * FROM {{spans}}
), sized AS (
  SELECT doc_id, source,
         size(filter(split(text, ' '), x -> x != '')) AS n_tok
  FROM {{docs}}
){_SSD_TAIL.format(idiv="DIV")}
"""


_SSD_DUCK = f"""
WITH toks AS (
  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '')
           AS t
  FROM documents
), spans AS (
  SELECT doc_id, i AS start,
         md5(array_to_string(t[i : i + {_SSD_W} - 1], ' ')) AS h
  FROM toks, (SELECT unnest(range(1, 600)) AS i)
  WHERE i <= len(t) - {_SSD_W} + 1
), sized AS (
  SELECT doc_id, source, len(t) AS n_tok FROM toks
){_SSD_TAIL.format(idiv="//")}
"""


#   * ``text_substring_dedup`` — the cross-document duplicated-substring
#     measure of Lee et al. 2022 ("Deduplicating Training Data Makes
#     Language Models Better"), SQL-native form: every consecutive
#     8-token span is hashed, spans shared by >= 2 distinct documents
#     are "duplicated", and each document's duplicated-TOKEN count is
#     the union length of its duplicated span intervals — merged with
#     the gaps-and-islands pattern (running MAX of interval ends), NOT
#     a per-position explode, so the merge costs O(dup spans), never
#     O(W x tokens). Per-source rollup in exact ppm.
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-substring load: the fraction of tokens
    (exact ppm) covered by some 8-token span that also appears in
    another document — the Lee et al. 2022 substring-dedup signal in
    its SQL-native form. Span hashes shuffle once for the >=2-docs
    test; each document's duplicated spans merge into maximal
    intervals via gaps-and-islands (running MAX of ends on one
    doc_id exchange), so coverage costs O(duplicated spans) rather
    than exploding W rows per span. Two column-pruned text scans
    (span inventory + token counts) — the train-then-score shape;
    the span inventory itself is persisted because BOTH the
    duplicated-hash test and the coverage join consume it (as a CTE
    the tokenize+hash explode ran twice — measured 2.6s → ~1.6s
    warm at sf0.1)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r29_ssd_docs"
    )
    track_persist(
        spark.sql(_SSD_SPANS_SPARK.format(docs="r29_ssd_docs"))
    ).createOrReplaceTempView("r29_ssd_spans")
    return spark.sql(
        _SSD_SPARK.format(docs="r29_ssd_docs", spans="r29_ssd_spans")
    )


# ---------------------------------------------------------------------------
# MATTR (moving-average type-token ratio), exact single-pass
# ---------------------------------------------------------------------------

_MATTR_W = 25


# Token occurrence j (1-based) with previous same-type occurrence p
# (0 if none) is the first occurrence of its type inside window i iff
# i <= j <= i+w-1 and p < i, i.e. i in [max(j-w+1, p+1, 1),
# min(j, n-w+1)]. Summing that interval length over occurrences
# equals the sum of per-window distinct counts — no window
# materialization.
_MATTR_CORE = f"""
WITH pos AS (
  SELECT doc_id, token, i AS j, n
  FROM {{tok}}
), lagged AS (
  SELECT doc_id, n, j,
         COALESCE(LAG(j) OVER (PARTITION BY doc_id, token ORDER BY j), 0)
           AS p
  FROM pos
), contrib AS (
  SELECT doc_id, n,
         GREATEST(
           LEAST(j, n - {_MATTR_W} + 1)
           - GREATEST(j - {_MATTR_W} + 1, p + 1, 1) + 1,
           0) AS c
  FROM lagged WHERE n >= {_MATTR_W}
)
SELECT doc_id,
       CAST(MIN(n) AS BIGINT) AS n_tokens,
       CAST(MIN(n) - {_MATTR_W} + 1 AS BIGINT) AS n_windows,
       CAST(SUM(c) * 1000000
            {{idiv}} ({_MATTR_W} * (MIN(n) - {_MATTR_W} + 1)) AS BIGINT)
         AS mattr_micro
FROM contrib
GROUP BY doc_id
"""


#   * ``text_mattr`` — Moving-Average Type-Token Ratio (window 25),
#     computed EXACTLY in one pass: instead of materializing every
#     sliding window (O(n*w) rows), each token occurrence contributes
#     a closed-form count of windows in which it is the first
#     occurrence of its type — one LAG window over (doc, token)
#     positions, then a per-doc sum. O(n) rows, same number the
#     tokenizer already produces.
def text_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MATTR-25 lexical diversity per document (docs shorter
    than the window are skipped, per the metric's definition). The
    naive form explodes every sliding window (O(n*w) rows — 25x the
    corpus); this plan uses the closed-form first-occurrence
    interval (see module docstring): tokenize once, one LAG window
    partitioned by (doc, token), one per-doc aggregate — the row
    count never exceeds the token count, so the 100 TB cost equals
    any other tokenize-and-aggregate scoring op. Integer micros via
    exact integer arithmetic end to end (no floats anywhere)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "ts3_mattr_docs"
    )
    spark.sql(
        """
        SELECT doc_id, t[i - 1] AS token, i, size(t) AS n
        FROM (SELECT doc_id, filter(split(text, ' '), x -> x != '') AS t
              FROM ts3_mattr_docs)
        LATERAL VIEW explode(sequence(1, size(t))) e AS i
        WHERE size(t) > 0
        """
    ).createOrReplaceTempView("ts3_mattr_tok")
    return spark.sql(_MATTR_CORE.format(tok="ts3_mattr_tok", idiv="DIV"))


_MATTR_DUCK = (
    """
WITH mattr_tok AS (
  SELECT doc_id, t[i] AS token, i, len(t) AS n
  FROM (SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x != '') AS t
        FROM documents),
       UNNEST(range(1, 1200)) AS u(i)
  WHERE i <= len(t)
)"""
    + _MATTR_CORE.replace("WITH pos AS (", ", pos AS (", 1).format(
        tok="mattr_tok", idiv="//"
    )
)


# ---------------------------------------------------------------------------
# Duplicate 3-gram fractions
# ---------------------------------------------------------------------------

_DNG_N = 3


_DNG_CORE = f"""
WITH per_gram AS (
  SELECT doc_id, gram, COUNT(*) AS cnt,
         CAST({{strlen}} AS BIGINT) AS glen
  FROM {{grams}}
  GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST((SUM(cnt) - COUNT(*)) * 1000000 {{idiv}} SUM(cnt) AS BIGINT)
         AS dup_gram_ppm,
       CAST(SUM(CASE WHEN cnt > 1 THEN cnt * glen ELSE 0 END) * 1000000
            {{idiv}} SUM(cnt * glen) AS BIGINT) AS dup_char_ppm
FROM per_gram
GROUP BY doc_id
"""


#   * ``text_dup_ngram_fraction`` — Gopher-style duplicate 3-gram
#     fractions per doc (occurrence-weighted and char-weighted):
#     phrase-level repetition that the unigram
#     ``text_repetition_stats`` cannot see.
def text_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicate 3-gram fractions (the Gopher phrase-level
    repetition rule): occurrence-weighted (share of 3-gram instances
    whose gram repeats within the doc) and char-weighted (same,
    weighted by gram length — approximating 'fraction of characters
    inside repeated phrases'). The shuffle carries (doc, gram)
    partial counts (map-side combined), not gram instances — the
    same scaling contract as the unigram repetition op, one
    n-gram-explode heavier."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "ts3_dng_docs"
    )
    spark.sql(
        f"""
        SELECT doc_id,
               concat_ws(' ', t[i - 1], t[i], t[i + 1]) AS gram
        FROM (SELECT doc_id, filter(split(text, ' '), x -> x != '') AS t
              FROM ts3_dng_docs)
        LATERAL VIEW explode(sequence(1, size(t) - {_DNG_N} + 1)) e AS i
        WHERE size(t) >= {_DNG_N}
        """
    ).createOrReplaceTempView("ts3_dng_grams")
    return spark.sql(
        _DNG_CORE.format(
            grams="ts3_dng_grams", strlen="length(gram)", idiv="DIV"
        )
    )


_DNG_DUCK = (
    f"""
WITH dng_grams AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
  FROM (SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x != '') AS t
        FROM documents),
       UNNEST(range(1, 1200)) AS u(i)
  WHERE i <= len(t) - {_DNG_N} + 1
)"""
    + _DNG_CORE.replace("WITH per_gram AS (", ", per_gram AS (", 1).format(
        grams="dng_grams", strlen="length(gram)", idiv="//"
    )
)


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5


_PMI_TOP = 20


_PMI_CORE = f"""
WITH uni AS (
  SELECT tok, COUNT(*) AS c FROM {{unigrams}} GROUP BY tok
), nuni AS (
  SELECT SUM(c) AS n_uni FROM uni
), big AS (
  SELECT gram, left_tok, right_tok, COUNT(*) AS c
  FROM {{bigrams}} GROUP BY gram, left_tok, right_tok
), nbig AS (
  SELECT SUM(c) AS n_big FROM big
)
SELECT b.gram AS gram,
       CAST(b.c AS BIGINT) AS c_pair,
       CAST(ul.c AS BIGINT) AS c_left,
       CAST(ur.c AS BIGINT) AS c_right,
       CAST(floor(ln((CAST(b.c AS DOUBLE) * n_uni * n_uni)
                     / (CAST(n_big AS DOUBLE) * ul.c * ur.c))
                  * 1000000) AS BIGINT) AS pmi_micro_nats
FROM big b
JOIN uni ul ON ul.tok = b.left_tok
JOIN uni ur ON ur.tok = b.right_tok
CROSS JOIN nuni CROSS JOIN nbig
WHERE b.c >= {_PMI_MIN_COUNT}
ORDER BY pmi_micro_nats DESC, gram
LIMIT {_PMI_TOP}
"""


#   * ``text_pmi_collocations`` — pointwise mutual information over
#     corpus bigrams: the collocation extractor behind phrase
#     vocabularies and tokenizer merges.  PMI is ONE ln of an exact
#     integer rational (c_xy·N_uni² / (N_big·c_x·c_y)), so the
#     micro-nat floor is stable across engines.
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by PMI (min pair count 5, see
    ``_PMI_TOP``/``_PMI_MIN_COUNT``): ln(P(xy)/(P(x)P(y))) with all
    probabilities
    from the same tokenization, so the ln argument is an exact
    integer rational and the micro-nat floor is engine-stable.
    Two map-combined gram counts; the unigram side is vocabulary-
    sized and broadcast into the bigram join — at 100 TB the bigram
    count shuffles hashed grams only, never document bodies."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r50_pmi_docs"
    )
    spark.sql(
        """
        SELECT filter(split(text, ' '), x -> x != '') AS t
        FROM r50_pmi_docs
        """
    ).createOrReplaceTempView("r50_pmi_words")
    spark.sql(
        """
        SELECT explode(t) AS tok FROM r50_pmi_words
        """
    ).createOrReplaceTempView("r50_pmi_uni")
    spark.sql(
        """
        SELECT concat_ws(' ', t[i - 1], t[i]) AS gram,
               t[i - 1] AS left_tok, t[i] AS right_tok
        FROM r50_pmi_words
        LATERAL VIEW explode(sequence(1, size(t) - 1)) e AS i
        WHERE size(t) >= 2
        """
    ).createOrReplaceTempView("r50_pmi_big")
    return spark.sql(
        _PMI_CORE.format(
            unigrams="r50_pmi_uni",
            bigrams="r50_pmi_big",
        )
    )


_PMI_DUCK = _PMI_CORE.format(
    unigrams=(
        """(
  SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
  FROM documents
)"""
    ),
    bigrams=(
        """(
  SELECT t[i] || ' ' || t[i + 1] AS gram,
         t[i] AS left_tok, t[i + 1] AS right_tok
  FROM (SELECT list_filter(string_split(text, ' '), x -> x != '') AS t
        FROM documents),
       UNNEST(range(1, 1200)) AS u(i)
  WHERE i <= len(t) - 1
)"""
    ),
)


# ---------------------------------------------------------------------------
# Tokenizer fertility
# ---------------------------------------------------------------------------

_FERTILITY_CORE = """
WITH per_doc AS (
  SELECT lang, words, bpeish, chars FROM {per_doc}
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(words) AS BIGINT) AS n_words,
       CAST(SUM(bpeish) AS BIGINT) AS n_tokens,
       CAST(SUM(chars) AS BIGINT) AS n_chars,
       CAST(1000 * SUM(bpeish) {idiv} SUM(words) AS BIGINT)
         AS fertility_milli,
       CAST(1000 * SUM(chars) {idiv} SUM(bpeish) AS BIGINT)
         AS chars_per_token_milli
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


#   * ``text_tokenizer_fertility`` — tokens-per-word and
#     chars-per-token by language under the BPE-ish regex tokenizer:
#     THE equity metric for how expensively a tokenizer encodes each
#     language.  Pure integer ratios (milli units, integer division).
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens-per-word (fertility) and chars-per-token by language
    under the repo's BPE-ish regex tokenizer — the cross-language
    cost metric tokenizer papers report: a language with 2× fertility
    pays 2× the sequence length for the same text.  Whitespace words
    and regex tokens come from the same one-pass projection; all
    ratios are integer milli units (integer division), so the output
    is engine-exact.  One map-side projection + one 5-row groupBy —
    nothing but per-language counters shuffles at any scale."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r51_fert_docs"
    )
    spark.sql(
        f"""
        SELECT lang,
               size(filter(split(text, ' '), x -> x != '')) AS words,
               size(regexp_extract_all(text, '{_TOKEN_RE}', 0)) AS bpeish,
               length(text) AS chars
        FROM r51_fert_docs
        WHERE text IS NOT NULL
        """
    ).createOrReplaceTempView("r51_fert_per_doc")
    return spark.sql(
        _FERTILITY_CORE.format(per_doc="r51_fert_per_doc", idiv="DIV")
    )


_FERTILITY_DUCK = _FERTILITY_CORE.format(
    per_doc=(
        f"""(
  SELECT lang,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS words,
         len(regexp_extract_all(text, '{_TOKEN_RE}')) AS bpeish,
         length(text) AS chars
  FROM documents
  WHERE text IS NOT NULL
)"""
    ),
    idiv="//",
)


# ---------------------------------------------------------------------------
# Dunning LLR keyness
# ---------------------------------------------------------------------------

_KEY_MIN_A = 5


_KEY_TOP = 5


_KEYNESS_CORE = f"""
WITH tokc AS (
  SELECT source, tok, COUNT(*) AS a FROM {{toks}} GROUP BY source, tok
), src_tot AS (
  SELECT source, SUM(a) AS ns FROM tokc GROUP BY source
), tok_tot AS (
  SELECT tok, SUM(a) AS ta FROM tokc GROUP BY tok
), n AS (
  SELECT SUM(ns) AS nn FROM src_tot
), scored AS (
  SELECT t.source, t.tok, t.a,
         tt.ta - t.a AS b,
         CAST(floor(2000000 * (
             t.a * ln(CAST(t.a AS DOUBLE) * nn
                      / (CAST(tt.ta AS DOUBLE) * st.ns))
             + CASE WHEN tt.ta - t.a > 0
                    THEN (tt.ta - t.a)
                         * ln(CAST(tt.ta - t.a AS DOUBLE) * nn
                              / (CAST(tt.ta AS DOUBLE) * (nn - st.ns)))
                    ELSE 0.0 END)) AS BIGINT) AS g2_micro
  FROM tokc t
  JOIN src_tot st ON st.source = t.source
  JOIN tok_tot tt ON tt.tok = t.tok
  CROSS JOIN n
  WHERE t.a >= {_KEY_MIN_A}
), ranked AS (
  SELECT source, tok, a, b, g2_micro,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY g2_micro DESC, tok) AS rk
  FROM scored
)
SELECT source, tok, CAST(a AS BIGINT) AS count_in_source,
       CAST(b AS BIGINT) AS count_elsewhere,
       g2_micro, CAST(rk AS BIGINT) AS rank
FROM ranked WHERE rk <= {_KEY_TOP}
ORDER BY source, rank
"""


#   * ``text_keyness_llr`` — Dunning log-likelihood keyness: the
#     most over-represented tokens per source vs the rest of the
#     corpus, the standard distinctive-vocabulary extractor for
#     corpus cards.
def text_keyness_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood keyness: for every source, the five
    tokens most over-represented vs the rest of the corpus (G² =
    2Σ O·ln(O/E) over the 2×2 source/rest table; the E terms expand
    to exact integer rationals so each of the two ln calls takes a
    rational argument, and the whole per-term score is one
    fixed-shape float floored to micro units).  The distinctive-
    vocabulary extractor behind corpus dataset cards.  One token
    count shuffle; source and token totals re-aggregate from the
    counted relation, never the corpus."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r52_key_docs"
    )
    spark.sql(
        """
        SELECT source, explode(filter(split(text, ' '), x -> x != ''))
          AS tok
        FROM r52_key_docs
        """
    ).createOrReplaceTempView("r52_key_toks")
    return spark.sql(_KEYNESS_CORE.format(toks="r52_key_toks"))


_KEYNESS_DUCK = _KEYNESS_CORE.format(
    toks=(
        """(
  SELECT source,
         unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
  FROM documents
)"""
    )
)


QUERIES = {
    "text_chunking": text_chunking,
    "text_stopword_removal": text_stopword_removal,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "text_keyword_spans": text_keyword_spans,
    "text_token_stats": text_token_stats,
    "text_quality_score": text_quality_score,
    "text_language_id": text_language_id,
    "text_fingerprints": text_fingerprints,
    "text_containment_dedup": text_containment_dedup,
    "text_pii_redaction": text_pii_redaction,
    "text_repetition_stats": text_repetition_stats,
    "text_chunk_dedup": text_chunk_dedup,
    "text_normalize_unicode": text_normalize_unicode,
    "text_vocab_stats": text_vocab_stats,
    "text_symbol_stats": text_symbol_stats,
    "text_bigram_rarity": text_bigram_rarity,
    "text_bpe_pair_stats": text_bpe_pair_stats,
    "text_source_divergence": text_source_divergence,
    "text_unigram_surprisal": text_unigram_surprisal,
    "text_readability": text_readability,
    "text_boilerplate_strip": text_boilerplate_strip,
    "text_entropy_per_source": text_entropy_per_source,
    "text_zipf_fit": text_zipf_fit,
    "text_heaps_law": text_heaps_law,
    "text_bigram_perplexity": text_bigram_perplexity,
    "text_substring_dedup": text_substring_dedup,
    "text_mattr": text_mattr,
    "text_dup_ngram_fraction": text_dup_ngram_fraction,
    "text_pmi_collocations": text_pmi_collocations,
    "text_tokenizer_fertility": text_tokenizer_fertility,
    "text_keyness_llr": text_keyness_llr,
}

ORACLE = {
    "text_chunking": _CHUNK_SQL,
    "text_stopword_removal": _STOPWORD_SQL,
    "text_tfidf_top_terms": _TFIDF_SQL,
    "text_keyword_spans": _KEYWORD_SPANS_SQL,
    "text_token_stats": _TOKSTATS_DUCK,
    "text_quality_score": _QUALITY_DUCK,
    "text_language_id": _LANGID_DUCK,
    "text_fingerprints": _FP_DUCK.format(shingles=_DUCK_SHINGLES),
    "text_containment_dedup": _CONTAINMENT_SQL,
    "text_pii_redaction": _PII_SQL,
    "text_repetition_stats": _REPETITION_SQL,
    "text_chunk_dedup": _CHUNK_DEDUP_SQL,
    "text_normalize_unicode": _NFC_SQL,
    "text_vocab_stats": _VOCAB_SQL,
    "text_symbol_stats": _SYMBOL_SQL,
    "text_bigram_rarity": _BIGRAM_DUCK,
    "text_bpe_pair_stats": _BPE_DUCK,
    "text_source_divergence": _DIVERGENCE_DUCK,
    "text_unigram_surprisal": _SURPRISAL_DUCK,
    "text_readability": _READABILITY_DUCK,
    "text_boilerplate_strip": _BOILER_DUCK,
    "text_entropy_per_source": _ENTROPY_DUCK,
    "text_zipf_fit": _ZIPF_DUCK,
    "text_heaps_law": _HEAPS_DUCK,
    "text_bigram_perplexity": _BLM_DUCK,
    "text_substring_dedup": _SSD_DUCK,
    "text_mattr": _MATTR_DUCK,
    "text_dup_ngram_fraction": _DNG_DUCK,
    "text_pmi_collocations": _PMI_DUCK,
    "text_tokenizer_fertility": _FERTILITY_DUCK,
    "text_keyness_llr": _KEYNESS_DUCK,
}
