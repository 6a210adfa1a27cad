"""Dataset curation over ``documents``: the split, sampling, filtering
and mixing decisions a training-data pipeline makes before a corpus
reaches the trainer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import track_persist
from ..operators.library import global_prefix_sum
from ..sources.readers import load_table
from .sim import _emb_view
from .text import _docs_view
from .textdedup import _DUCK_SHINGLES, _MINHASH_DUCK, dedup_clusters


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (80/10/10 by md5 bucket)
# ---------------------------------------------------------------------------

_SPLIT_CASE = """
  CASE WHEN bucket < 80 THEN 'train'
       WHEN bucket < 90 THEN 'val'
       ELSE 'test' END
"""


_SPLIT_SPARK = f"""
SELECT doc_id, {_SPLIT_CASE} AS split
FROM (
  SELECT doc_id,
         CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS BIGINT) % 100 AS bucket
  FROM {{docs}}
)
"""


_SPLIT_DUCK = f"""
SELECT doc_id, {_SPLIT_CASE} AS split
FROM (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 AS bucket
  FROM documents
)
"""


#   * ``curate_train_split`` — deterministic train/val/test assignment
#     by content-independent hash of the document key. Hash-based (not
#     ``rand()``-based) so the split is reproducible across runs,
#     engines, and repartitionings, and stable under corpus growth: a
#     document's split never changes when other documents are added
#     (pinned by tests/test_curation_properties.py).
#
# Scale posture: filter and split are pure map passes (audited: zero
# Exchange); the sample and packing shuffle once on bounded-cardinality
# strata; upsert is one co-locatable key join; contamination ships only
# 16-byte gram hashes with a broadcast-sized eval side.
def curate_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_view(spark, sf_dir, "__docs_split")
    return spark.sql(_SPLIT_SPARK.format(docs=docs))


# ---------------------------------------------------------------------------
# Reason-coded quality filter (C4-style heuristics)
# ---------------------------------------------------------------------------
# Rules, in precedence order (first failure wins):
#   too_short  — fewer than 20 tokens;
#   repetitive — most frequent token accounts for > 12.5% of tokens
#                (boilerplate/spam signal);
#   non_text   — mean token length outside [2.5, 6] (binary junk or
#                delimiter-free blobs; never fires on the clean
#                fixture, which the test pins as 0 — the rule guards
#                real corpora).
# mean token length is derived from n_chars and the token count
# (text is space-joined, so chars = sum(len) + (n_tok - 1)).

_FILTER_BODY = """
  SELECT doc_id, n_tok, top_share, mean_tok_len,
         n_tok < 20 AS r_too_short,
         top_share > 0.125 AS r_repetitive,
         mean_tok_len < 2.5 OR mean_tok_len > 6.0 AS r_non_text,
         CASE WHEN n_tok < 20 THEN 'too_short'
              WHEN top_share > 0.125 THEN 'repetitive'
              WHEN mean_tok_len < 2.5 OR mean_tok_len > 6.0 THEN 'non_text'
              ELSE 'keep' END AS verdict
"""


_FILTER_SPARK = f"""
{_FILTER_BODY}
FROM (
  SELECT doc_id,
         CAST(size(t) AS BIGINT) AS n_tok,
         CAST(array_max(transform(array_distinct(t),
              x -> size(filter(t, y -> y = x)))) AS DOUBLE) / size(t) AS top_share,
         CAST(n_chars - size(t) + 1 AS DOUBLE) / size(t) AS mean_tok_len
  FROM (SELECT doc_id, n_chars, split(text, ' ') AS t FROM {{docs}})
)
"""


_FILTER_DUCK = f"""
{_FILTER_BODY}
FROM (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tok,
         CAST(list_max(list_transform(list_distinct(t),
              x -> len(list_filter(t, y -> y = x)))) AS DOUBLE) / len(t) AS top_share,
         CAST(n_chars - len(t) + 1 AS DOUBLE) / len(t) AS mean_tok_len
  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS t FROM documents)
)
"""


#   * ``curate_quality_filter`` — reason-coded C4-style heuristic
#     filter: every document gets a keep/drop verdict plus the first
#     failing rule, so downstream can audit drop rates per rule.
def curate_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_view(spark, sf_dir, "__docs_qf")
    return spark.sql(_FILTER_SPARK.format(docs=docs))


# ---------------------------------------------------------------------------
# Deterministic stratified sample: first k per (lang, source) by hash
# ---------------------------------------------------------------------------

_SAMPLE_K = 5


_SAMPLE_SPARK = f"""
SELECT lang, source, doc_id, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT lang, source, doc_id,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk
  FROM {{docs}}
)
WHERE rk <= {_SAMPLE_K}
"""


_SAMPLE_DUCK = f"""
SELECT lang, source, doc_id, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT lang, source, doc_id,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
WHERE rk <= {_SAMPLE_K}
"""


#   * ``curate_stratified_sample`` — deterministic per-stratum sample:
#     rank by md5(doc_id) within (lang, source) and keep the first k.
#     Equivalent to a uniform random sample per stratum (the hash is
#     uncorrelated with any document property) but reproducible and
#     oracle-checkable, unlike ``TABLESAMPLE``/``rand()``.
def curate_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_view(spark, sf_dir, "__docs_strat")
    return spark.sql(_SAMPLE_SPARK.format(docs=docs))


# ---------------------------------------------------------------------------
# Sequence packing: concat-then-chunk into fixed token blocks
# ---------------------------------------------------------------------------
# The canonical LLM pretraining layout: documents are concatenated in
# a deterministic order (per lang stream, by doc_id) and the token
# stream is cut into fixed-size blocks; a document belongs to the
# block where it starts (long docs straddle into following blocks).
#
# The naive plan is one window cumsum PARTITION BY lang — parallelism
# = #languages, a single-digit number, so one straggler core owns the
# biggest language at any scale. Implemented instead as the classic
# distributed prefix-sum: range-partition the stream on (lang,
# doc_id) into #cores splits, cumsum locally per split, and lift the
# local sums to global ones by adding per-(split, lang) offsets
# computed from a tiny totals table (#splits x #langs rows). The big
# data is touched by exactly two exchanges (the range partition and
# the final (lang, seq_id) aggregate); the offsets table is
# broadcast. Parallelism = #splits regardless of how skewed the
# language mix is.

_PACK_BUDGET = 512


# DuckDB promotes SUM(BIGINT) to HUGEINT (float64 in pandas); cast back
# so the oracle hash matches Spark's bigint.
_PACK_BODY_DUCK = """
SELECT lang, seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
"""


_PACK_DUCK = f"""
{_PACK_BODY_DUCK}
FROM (
  SELECT doc_id, lang, n_tok,
         CAST((SUM(n_tok) OVER w - n_tok) // {_PACK_BUDGET} AS BIGINT) AS seq_id
  FROM (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents)
  WINDOW w AS (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
GROUP BY lang, seq_id
"""


#   * ``curate_pack_sequences`` — concat-then-chunk sequence packing
#     into fixed token blocks (the LLM pretraining layout).
def curate_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    n_splits = spark.sparkContext.defaultParallelism
    # Persisted so the totals pass and the main pass see the SAME split
    # assignment (range boundaries come from sampling; recomputing the
    # exchange twice is both wasted IO and a determinism hazard).
    split_docs = track_persist(
        docs.repartitionByRange(n_splits, "lang", "doc_id")
        .withColumn("split_id", F.spark_partition_id())
    )
    # Tiny: #splits x #langs rows. The window below runs on it, not on
    # the corpus.
    w_prev = (
        Window.partitionBy("lang")
        .orderBy("split_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        split_docs.groupBy("split_id", "lang")
        .agg(F.sum("n_tok").alias("split_tok"))
        .select(
            "split_id",
            "lang",
            F.coalesce(F.sum("split_tok").over(w_prev), F.lit(0)).alias("offset"),
        )
    )
    # Local cumsum per (split, lang) + broadcast offset = global cumsum
    # in (lang, doc_id) order: range partitioning guarantees every
    # same-lang row in an earlier split precedes every row in a later
    # one.
    w_local = (
        Window.partitionBy("split_id", "lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = (
        split_docs.join(F.broadcast(offsets), ["split_id", "lang"])
        .withColumn(
            "start_tok",
            F.sum("n_tok").over(w_local) + F.col("offset") - F.col("n_tok"),
        )
        # integer DIV, not floor(double /): token totals at corpus scale
        # overflow double's 2^53 exact-integer range
        .withColumn("seq_id", F.expr(f"start_tok DIV {_PACK_BUDGET}"))
    )
    return packed.groupBy("lang", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# Corpus upsert: MERGE INTO semantics as a full-outer join
# ---------------------------------------------------------------------------
# The steady-state corpus operation: a daily update batch lands with
# revised versions of some documents and brand-new ones. MERGE INTO
# (Delta/Iceberg) is table-format sugar over exactly this plan: full
# outer join on the key, matched -> update, source-only -> insert,
# target-only -> keep. Expressed directly so it runs on plain parquet;
# at scale both sides are bucketed by doc_id and the join is
# co-located, with only changed files rewritten by the table format.
# Fixture roles are carved deterministically from `documents`:
#   corpus  = doc_id % 10 != 0   (current state)
#   updates = doc_id % 5 == 0    (batch: % 10 == 5 revises an existing
#                                 doc, % 10 == 0 is a new insert)
# Updates revise the text (tagged prefix), so changed rows are
# observable via md5.

_UPSERT_SPARK = """
WITH corpus AS (
  SELECT doc_id, text FROM {docs} WHERE doc_id % 10 != 0
),
updates AS (
  SELECT doc_id, concat('v2 ', text) AS text FROM {docs} WHERE doc_id % 5 = 0
)
SELECT coalesce(c.doc_id, u.doc_id) AS doc_id,
       CASE WHEN c.doc_id IS NULL THEN 'insert'
            WHEN u.doc_id IS NULL THEN 'keep'
            ELSE 'update' END AS action,
       md5(coalesce(u.text, c.text)) AS text_md5
FROM corpus c FULL OUTER JOIN updates u ON c.doc_id = u.doc_id
"""


_UPSERT_DUCK = """
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0
),
updates AS (
  SELECT doc_id, concat('v2 ', text) AS text FROM documents WHERE doc_id % 5 = 0
)
SELECT coalesce(c.doc_id, u.doc_id) AS doc_id,
       CASE WHEN c.doc_id IS NULL THEN 'insert'
            WHEN u.doc_id IS NULL THEN 'keep'
            ELSE 'update' END AS action,
       md5(coalesce(u.text, c.text)) AS text_md5
FROM corpus c FULL OUTER JOIN updates u ON c.doc_id = u.doc_id
"""


#   * ``curate_corpus_upsert`` — MERGE INTO semantics (update/insert/
#     keep) as a plain full-outer join.
def curate_corpus_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_view(spark, sf_dir, "__docs_upsert")
    return spark.sql(_UPSERT_SPARK.format(docs=docs))


# ---------------------------------------------------------------------------
# Benchmark decontamination: train/eval n-gram overlap
# ---------------------------------------------------------------------------
# The standard contamination check before training: flag corpus
# documents sharing any 8-gram with an evaluation set (the fixture
# carves doc_id % 11 == 0 as the "benchmark" — sized so overlaps exist
# at every test scale, keeping the oracle check non-vacuous). Both sides reduce to
# distinct 8-gram hashes BEFORE the join, so the join ships 16-byte
# hashes, never text; the eval side is tiny by nature and broadcasts.
# At 100 TB the eval-gram table is a few MB against any corpus size —
# the check stays one broadcast-join map pass over the corpus grams.

_CONTAM_GRAMS = """
  SELECT doc_id,
         explode(array_distinct(transform(sequence(1, greatest(size(t) - 7, 1)),
             i -> md5(concat_ws(' ', slice(t, i, 8)))))) AS g
  FROM (SELECT doc_id, split(text, ' ') AS t FROM {src})
"""


_CONTAM_SPARK = f"""
WITH corpus_grams AS ({_CONTAM_GRAMS.format(src="(SELECT * FROM {docs} WHERE doc_id % 11 != 0)")}),
eval_grams AS ({_CONTAM_GRAMS.format(src="(SELECT * FROM {docs} WHERE doc_id % 11 = 0)")})
SELECT c.doc_id,
       e.doc_id AS eval_doc_id,
       COUNT(*) AS shared_8grams
FROM corpus_grams c
JOIN eval_grams e ON c.g = e.g
GROUP BY c.doc_id, e.doc_id
"""


_CONTAM_GRAMS_DUCK = """
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, greatest(len(t) - 7, 1) + 1),
             i -> md5(array_to_string(t[i : i + 7], ' '))))) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM {src})
"""


_CONTAM_DUCK = f"""
WITH corpus_grams AS ({_CONTAM_GRAMS_DUCK.format(src="(SELECT * FROM documents WHERE doc_id % 11 != 0)")}),
eval_grams AS ({_CONTAM_GRAMS_DUCK.format(src="(SELECT * FROM documents WHERE doc_id % 11 = 0)")})
SELECT c.doc_id,
       e.doc_id AS eval_doc_id,
       COUNT(*) AS shared_8grams
FROM corpus_grams c
JOIN eval_grams e ON c.g = e.g
GROUP BY c.doc_id, e.doc_id
"""


#   * ``curate_contamination_check`` — train/eval 8-gram overlap
#     (benchmark decontamination).
def curate_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textdedup import _docs_wide_view

    docs = _docs_wide_view(spark, sf_dir, "__docs_contam")
    return spark.sql(_CONTAM_SPARK.format(docs=docs))


def curate_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last stage of the dedup pipeline: elect ONE survivor per
    near-dup cluster by QUALITY (longest document, doc_id tiebreak)
    instead of the arbitrary min-id keeper, and emit the drop
    decision per clustered doc. One broadcastable join of cluster
    labels (|clustered docs|, tiny vs corpus) against the doc-stats
    projection, one max(struct) fold per cluster — the pattern that
    turns pairwise near-dup detection into an actual curated corpus."""
    labels = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    stats = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = labels.join(stats, "doc_id")
    reps = joined.groupBy("cluster_id").agg(
        F.max(F.struct("n_chars", "doc_id")).alias("m")
    )
    return (
        joined.join(F.broadcast(reps), "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            F.col("m.doc_id").alias("rep_doc_id"),
            (F.col("doc_id") != F.col("m.doc_id")).alias("drop"),
        )
    )


_CLUSTER_REPS_SQL = """
WITH RECURSIVE pairs AS (
  {minhash_pairs}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r
  FROM edges e JOIN reach ON e.dst = reach.node
),
labels AS (
  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
),
joined AS (
  SELECT l.doc_id, l.cluster_id, d.n_chars
  FROM labels l JOIN documents d ON l.doc_id = d.doc_id
),
reps AS (
  SELECT cluster_id, doc_id AS rep_doc_id
  FROM (
    SELECT cluster_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id DESC) AS rn
    FROM joined
  ) WHERE rn = 1
)
SELECT j.doc_id, j.cluster_id, r.rep_doc_id, j.doc_id <> r.rep_doc_id AS drop
FROM joined j JOIN reps r ON j.cluster_id = r.cluster_id
"""


# ---------------------------------------------------------------------------
# Deterministic weighted sampling
# ---------------------------------------------------------------------------

_W_SCALE = 1_000_000


#   * ``curate_weighted_sample`` — deterministic weighted corpus
#     sampling: keep probability proportional to a per-doc weight,
#     decided by comparing an md5 bucket against the weight — the
#     reproducible-across-engines/runs form of importance sampling used
#     to rebalance training mixes (no RNG, no seed drift; the identical
#     rule re-selects the identical corpus anywhere).
def curate_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-style corpus sampling with keep probability
    proportional to document length (the stand-in for any per-doc
    quality weight): keep iff md5-bucket(doc_id) < weight_ppm. Pure
    map pass — no shuffle, no RNG; the same rule reproduces the same
    sample on any engine, any partitioning, any rerun (and is stable
    under corpus growth: adding documents never flips existing
    decisions — the property random sampling lacks)."""
    docs = load_table(spark, sf_dir, "documents")
    w_ppm = F.least(F.lit(_W_SCALE), F.col("n_chars") * 800)
    bucket = F.expr(
        f"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS BIGINT)"
        f" % {_W_SCALE}"
    )
    return docs.select(
        "doc_id",
        w_ppm.cast("bigint").alias("weight_ppm"),
        (bucket < w_ppm).alias("kept"),
    )


_WEIGHTED_SQL = f"""
SELECT doc_id,
       CAST(LEAST({_W_SCALE}, n_chars * 800) AS BIGINT) AS weight_ppm,
       (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
          % {_W_SCALE})
         < LEAST({_W_SCALE}, n_chars * 800) AS kept
FROM documents
"""


# ---------------------------------------------------------------------------
# Mixture weights (source balancing)
# ---------------------------------------------------------------------------


#   * ``curate_mixture_weights`` — per-(lang, source) token counts and
#     the integer ppm down-sampling weight that equalizes every group
#     to the smallest one: the mixture-balancing step before sampling a
#     training corpus. One aggregate plus a broadcast scalar.
def curate_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sampling weight per (lang, source) group that equalizes
    token budgets to the smallest group: weight_ppm = 1e6 *
    min_tokens / group_tokens (integer), planned_tokens the resulting
    budget. The group aggregate is one shuffle; the scalar min rides
    a broadcast cross join — nothing leaves the executors but one
    row."""
    docs = load_table(spark, sf_dir, "documents")
    grp = docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.expr("filter(split(text, ' '), x -> x != '')")))
        .alias("n_tokens"),
    )
    m = grp.agg(F.min("n_tokens").alias("__min_tokens"))
    return (
        grp.crossJoin(F.broadcast(m))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            F.expr("1000000 * __min_tokens DIV n_tokens").alias("weight_ppm"),
            F.expr("n_tokens * (1000000 * __min_tokens DIV n_tokens) DIV 1000000")
            .alias("planned_tokens"),
        )
    )


_MIXTURE_DUCK = """
WITH grp AS (
  SELECT lang, source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2
), m AS (SELECT MIN(n_tokens) AS min_tokens FROM grp)
SELECT lang, source, n_docs, n_tokens,
       CAST(1000000 * min_tokens // n_tokens AS BIGINT) AS weight_ppm,
       CAST(n_tokens * (1000000 * min_tokens // n_tokens) // 1000000 AS BIGINT)
         AS planned_tokens
FROM grp, m
"""


# ---------------------------------------------------------------------------
# SemDeDup: cluster-bounded semantic deduplication (round-5 batch 11)
# ---------------------------------------------------------------------------
# The SemDeDup recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
# learning at web-scale through semantic deduplication"): cluster the
# embedding corpus with k-means, compute pairwise cosine ONLY within
# each cluster, and drop every vector whose similarity to another
# cluster member exceeds a threshold, keeping one representative.
# Clustering is what makes it tractable — pairwise work is
# sum(n_c^2), bounded by the cluster size k controls; nothing is ever
# compared across clusters. Determinism choices: one integer-exact
# Lloyd assignment against the same lowest-8-vec_id seeds as
# ``embed_kmeans_lloyd``, keep-lowest-vec_id as the representative
# rule (the paper keeps the vector farthest from the centroid; any
# fixed rule gives the same dedup rate), and the cosine threshold
# tested as the INTEGER predicate
#   dot > 0 AND dot^2 * 10000 >= tau2_bp * |a|^2 * |b|^2
# so no float ever decides a pair. tau = 0.40 here (tau2_bp =
# 1600): the synthetic embeddings are near-orthogonal (max
# within-cluster cosine ~0.53 at every fixture scale), so a
# web-corpus threshold like 0.95 would leave the prune path
# unexercised; tau is the caller knob, and the fixture value
# makes the driver hash cover actual removals (18 at sf0.001,
# 236 at sf0.1).

_SEMDEDUP_ASSIGN_SPARK = """
WITH q AS (
  SELECT vec_id,
         transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM {emb}
  WHERE embedding IS NOT NULL AND size(embedding) = 64
    AND NOT exists(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)
), n AS (
  SELECT vec_id, qv,
         aggregate(zip_with(qv, qv, (x, y) -> x * y),
                   0L, (acc, v) -> acc + v) AS n2
  FROM q
), e AS (
  SELECT vec_id, posexplode(qv) AS (pos, val) FROM q
), c0 AS (
  SELECT vec_id AS cid, pos, val AS cval FROM e WHERE vec_id < 8
), d1 AS (
  SELECT /*+ BROADCAST(c0) */ e.vec_id, c0.cid,
         SUM((e.val - c0.cval) * (e.val - c0.cval)) AS dist
  FROM e JOIN c0 ON e.pos = c0.pos
  GROUP BY e.vec_id, c0.cid
), a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
    FROM d1
  ) WHERE rk = 1
)
SELECT a1.vec_id, a1.cid, n.qv, n.n2
FROM a1 JOIN n ON a1.vec_id = n.vec_id
"""


_SEMDEDUP_DUCK = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
           AS qv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
), n AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM q
), e AS (
  SELECT vec_id, i AS pos, CAST(qv[i] AS BIGINT) AS val
  FROM q, (SELECT unnest(range(1, 65)) AS i)
), c0 AS (
  SELECT vec_id AS cid, pos, val AS cval FROM e WHERE vec_id < 8
), d1 AS (
  SELECT e.vec_id, c0.cid,
         CAST(SUM((e.val - c0.cval) * (e.val - c0.cval)) AS BIGINT) AS dist
  FROM e JOIN c0 ON e.pos = c0.pos
  GROUP BY e.vec_id, c0.cid
), a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
    FROM d1
  ) t WHERE rk = 1
), p AS (
  SELECT b.vec_id AS vb,
         CAST(list_sum(list_transform(range(1, 65),
                                      i -> qa.qv[i] * qb.qv[i]))
           AS BIGINT) AS dot,
         qa.n2 AS n2a, qb.n2 AS n2b
  FROM a1 a
  JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN n qa ON qa.vec_id = a.vec_id
  JOIN n qb ON qb.vec_id = b.vec_id
), dupe AS (
  SELECT DISTINCT vb FROM p
  WHERE dot > 0
    AND CAST(dot AS HUGEINT) * dot * 10000
        >= CAST(1600 AS HUGEINT) * n2a * n2b
)
SELECT a1.cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN d.vb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(SUM(CASE WHEN d.vb IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM a1 LEFT JOIN dupe d ON a1.vec_id = d.vb
GROUP BY a1.cid
ORDER BY cluster_id
"""


#   * ``curate_semdedup`` (round-5 batch 11) — SemDeDup semantic
#     deduplication composing the Lloyd assignment with
#     within-cluster-only integer-exact cosine pruning; see the
#     section comment below.
def curate_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding corpus: one integer-exact Lloyd
    assignment (same seeds as ``embed_kmeans_lloyd``), exact
    integer-cosine pairwise comparison WITHIN clusters only, and
    keep-lowest-vec_id pruning at cos > 0.40 (fixture-calibrated so
    pruning actually fires — see module comment); returns per-cluster
    members / removed / kept. The assignment relation (vec_id, cid,
    qv, n2) is computed ONCE and ``track_persist``-ed before the
    self-join — SQL CTE inlining would otherwise re-derive the whole
    distance/argmin subtree on BOTH sides of the pair join (measured:
    8 scans vs 2). Pairwise cost is sum(n_c^2) — the cluster count k
    is the scalability knob (the paper's point) and the pair join's
    equi-key IS the cluster id, so nothing crosses cluster
    boundaries. No float ever decides a pair (dot^2 * 10^4 vs
    1600 * |a|^2 * |b|^2 in DECIMAL(38,0)/HUGEINT)."""
    emb = _emb_view(spark, sf_dir, "__mlprep_semdedup")
    assigned = track_persist(
        spark.sql(_SEMDEDUP_ASSIGN_SPARK.format(emb=emb))
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    scored = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vb"),
            F.expr(
                "aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y), "
                "0L, (acc, v) -> acc + v)"
            ).alias("dot"),
            F.col("a.n2").alias("n2a"),
            F.col("b.n2").alias("n2b"),
        )
    )
    dupe = (
        scored.where(
            "dot > 0 AND CAST(dot AS DECIMAL(38,0)) * dot * 10000"
            " >= CAST(1600 AS DECIMAL(38,0)) * n2a * n2b"
        )
        .select("vb")
        .distinct()
    )
    return (
        assigned.join(dupe, assigned.vec_id == dupe.vb, "left")
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.when(F.col("vb").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
            F.sum(F.when(F.col("vb").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Dataset cards
# ---------------------------------------------------------------------------


#   * ``curate_dataset_cards`` — the per-source "dataset card" rollup
#     (docs, tokens, chars, language spread, dominant language) that
#     heads every curated-corpus release; one aggregate pass plus a
#     deterministic max-struct for the dominant language.
def curate_dataset_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source release card: document/token/char budgets, language
    spread, and the dominant language with its share (integer ppm).
    The dominant language is a deterministic max-of-struct fold over
    the per-(source, lang) counts — no window, no second shuffle over
    documents."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        "n_chars",
        F.size(F.expr("filter(split(text, ' '), x -> x != '')")).alias("n_toks"),
    )
    per_lang = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    return (
        per_lang.groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.max(F.struct("n_docs", "lang")).alias("__top"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_langs",
            F.col("__top.lang").alias("top_lang"),
            F.expr("1000000 * __top.n_docs DIV n_docs").alias("top_lang_ppm"),
        )
    )


_CARDS_SQL = """
WITH docs AS (
  SELECT source, lang, n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks
  FROM documents
), per_lang AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM docs GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       MAX(struct_pack(n_docs := n_docs, lang := lang)).lang AS top_lang,
       CAST(1000000 * MAX(struct_pack(n_docs := n_docs, lang := lang)).n_docs
            // SUM(n_docs) AS BIGINT) AS top_lang_ppm
FROM per_lang
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Quality filter cascade
# ---------------------------------------------------------------------------


#   * ``curate_quality_filter_cascade`` — a staged quality gate
#     (cheap predicates first, expensive ones only on survivors) with
#     per-stage population, pass counts and selectivity in integer
#     ppm: the measurement that justifies filter ordering in a corpus
#     pipeline. One conditional-aggregation scan computes the whole
#     funnel.
def curate_quality_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-stage quality gate over documents, cheap to expensive:
    (1) char-length band, (2) minimum token count, (3) symbol share,
    (4) duplicate-token share. Each stage sees only the previous
    stage's survivors; the report gives per-stage population, passes
    and selectivity in integer ppm — the funnel evidence that
    justifies running cheap filters first. ONE conditional-aggregation
    scan computes all four stages (each stage flag is a codegen'd
    boolean conjunction), then a stack unpivots the funnel."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("toks"),
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).alias("n_sym"),
    )
    staged = docs.select(
        (F.col("n_chars").between(100, 2000)).alias("s1"),
        (F.size("toks") >= 20).alias("p2"),
        (
            F.col("n_sym") * 1_000_000 < F.lit(100_000) * F.col("n_chars")
        ).alias("p3"),
        (
            (F.size("toks") - F.size(F.array_distinct("toks"))) * 1_000_000
            < F.lit(600_000) * F.size("toks")
        ).alias("p4"),
    ).select(
        "s1",
        (F.col("s1") & F.col("p2")).alias("s2"),
        (F.col("s1") & F.col("p2") & F.col("p3")).alias("s3"),
        (F.col("s1") & F.col("p2") & F.col("p3") & F.col("p4")).alias("s4"),
    )
    agg = staged.agg(
        F.count("*").alias("n0"),
        F.sum(F.col("s1").cast("long")).alias("n1"),
        F.sum(F.col("s2").cast("long")).alias("n2"),
        F.sum(F.col("s3").cast("long")).alias("n3"),
        F.sum(F.col("s4").cast("long")).alias("n4"),
    )
    return agg.selectExpr(
        "stack(4, "
        "'1_char_band',  n0, n1, "
        "'2_min_tokens', n1, n2, "
        "'3_symbol_share', n2, n3, "
        "'4_dup_tokens', n3, n4"
        ") AS (stage, n_in, n_pass)"
    ).selectExpr(
        "stage",
        "CAST(n_in AS BIGINT) AS n_in",
        "CAST(n_pass AS BIGINT) AS n_pass",
        "CAST(CASE WHEN n_in = 0 THEN 0 "
        "     ELSE 1000000 * n_pass DIV n_in END AS BIGINT) AS selectivity_ppm",
    )


_CASCADE_SQL = """
WITH staged AS (
  SELECT (n_chars BETWEEN 100 AND 2000) AS s1_only,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt,
         length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_sym,
         n_chars,
         len(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))
           AS nd
  FROM documents
), flags AS (
  SELECT s1_only AS s1,
         s1_only AND nt >= 20 AS s2,
         s1_only AND nt >= 20 AND n_sym * 1000000 < 100000 * n_chars AS s3,
         s1_only AND nt >= 20 AND n_sym * 1000000 < 100000 * n_chars
                 AND (nt - nd) * 1000000 < 600000 * nt AS s4
  FROM staged
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM flags
)
SELECT stage, n_in, n_pass,
       CAST(CASE WHEN n_in = 0 THEN 0
            ELSE 1000000 * n_pass // n_in END AS BIGINT) AS selectivity_ppm
FROM (
  SELECT '1_char_band' AS stage, n0 AS n_in, n1 AS n_pass FROM agg
  UNION ALL SELECT '2_min_tokens', n1, n2 FROM agg
  UNION ALL SELECT '3_symbol_share', n2, n3 FROM agg
  UNION ALL SELECT '4_dup_tokens', n3, n4 FROM agg
)
"""


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256


_DSIR_TARGET_CHARS = 400


# the (doc, bucket) count relation is built ONCE in the DataFrame
# layer and persisted (bounded: docs x <=256 rows) — every downstream
# relation (bucket distributions, per-doc scoring join) derives from
# it, so the corpus is tokenized exactly once. Expressing it as a CTE
# would inline-and-recompute the bigram explode at every reference
# (measured: 3 tokenize passes).
_DSIR_DOCBUCKET_SPARK = f"""
WITH w AS (
  SELECT doc_id, n_chars >= {_DSIR_TARGET_CHARS} AS is_target,
         filter(split(text, ' '), x -> x != '') AS t
  FROM {{docs}}
), bg AS (
  SELECT doc_id, is_target,
         CAST(conv(substring(md5(concat(element_at(t, i), ' ',
                                        element_at(t, i + 1))), 1, 15),
                   16, 10) AS BIGINT) % {_DSIR_BUCKETS} AS bucket
  FROM w LATERAL VIEW explode(sequence(1, size(t) - 1)) e AS i
  WHERE size(t) >= 2
)
SELECT doc_id, is_target, bucket, COUNT(*) AS c
FROM bg GROUP BY doc_id, is_target, bucket
"""


_DSIR_SCORE_SPARK = f"""
WITH dist AS (
  SELECT bucket, SUM(c) AS q_c,
         SUM(CASE WHEN is_target THEN c ELSE 0 END) AS p_c
  FROM {{docbucket}} GROUP BY bucket
), distt AS (
  SELECT bucket, q_c, p_c,
         SUM(q_c) OVER () AS tq, SUM(p_c) OVER () AS tp
  FROM dist
), lam AS (
  SELECT bucket,
         ln((CAST(p_c + 1 AS DOUBLE) / CAST(tp + {_DSIR_BUCKETS} AS DOUBLE))
            / (CAST(q_c + 1 AS DOUBLE)
               / CAST(tq + {_DSIR_BUCKETS} AS DOUBLE))) AS lr
  FROM distt
)
SELECT d.doc_id,
       SUM(d.c) AS n_bigrams,
       SUM(CAST(floor(d.c * l.lr * 1000000) AS BIGINT)) AS weight_micro
FROM {{docbucket}} d JOIN lam l ON d.bucket = l.bucket
GROUP BY d.doc_id
"""


_DSIR_DUCK = f"""
WITH w AS (
  SELECT doc_id, n_chars >= {_DSIR_TARGET_CHARS} AS is_target,
         list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
), bg AS (
  SELECT doc_id, is_target,
         CAST(concat('0x', substring(md5(t[i] || ' ' || t[i + 1]), 1, 15))
              AS BIGINT) % {_DSIR_BUCKETS} AS bucket
  FROM w, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
), dist AS (
  SELECT bucket, COUNT(*) AS q_c,
         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS p_c
  FROM bg GROUP BY bucket
), tot AS (
  SELECT SUM(q_c) AS tq, SUM(p_c) AS tp FROM dist
), lam AS (
  SELECT bucket,
         ln((CAST(p_c + 1 AS DOUBLE) / CAST(tp + {_DSIR_BUCKETS} AS DOUBLE))
            / (CAST(q_c + 1 AS DOUBLE)
               / CAST(tq + {_DSIR_BUCKETS} AS DOUBLE))) AS lr
  FROM dist CROSS JOIN tot
), docbucket AS (
  SELECT doc_id, bucket, COUNT(*) AS c FROM bg GROUP BY doc_id, bucket
)
SELECT d.doc_id,
       CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(floor(d.c * l.lr * 1000000) AS BIGINT)) AS BIGINT)
         AS weight_micro
FROM docbucket d JOIN lam l ON d.bucket = l.bucket
GROUP BY d.doc_id
"""


#   * ``curate_importance_weights`` — DSIR-style importance weights
#     (Xie et al. 2023): hashed bigram features (md5 -> 256 buckets),
#     target distribution = long documents, weight = sum over features
#     of count * ln(p_target/p_corpus) with +1 smoothing, floored to
#     integer micro-nats per (doc, bucket) term. The bucket table is
#     256 rows — broadcast — so scoring the corpus is ONE shuffle
#     (doc-bucket counts), exactly how DSIR runs at trillion-token
#     scale.
def curate_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-bigram importance weights: target = long documents,
    features = md5-hashed bigrams in 256 buckets, per-document weight
    = sum of count * log-likelihood-ratio, +1-smoothed. ONE corpus
    shuffle builds the persisted (doc, bucket) counts; both bucket
    distributions and the scoring join read that relation (the corpus
    tokenizes exactly once), and the 256-row log-ratio table joins
    back broadcast-size. Terms are floored to integer micro-nats
    before summing so the weight is order-independent."""
    docs = _docs_view(spark, sf_dir, "textlm_dsir_docs")
    docbucket = track_persist(
        spark.sql(_DSIR_DOCBUCKET_SPARK.format(docs=docs))
    )
    docbucket.createOrReplaceTempView("textlm_dsir_docbucket")
    return spark.sql(_DSIR_SCORE_SPARK.format(docbucket="textlm_dsir_docbucket"))


# ---------------------------------------------------------------------------
# Per-source n-gram novelty
# ---------------------------------------------------------------------------

_NOV_N = 8


_NOV_SHINGLES_SPARK = f"""
SELECT source, md5(array_join(slice(words, i + 1, {_NOV_N}), ' ')) AS h
FROM (SELECT source, filter(split(text, ' '), x -> x != '') AS words
      FROM {{docs}})
LATERAL VIEW explode(
  CASE WHEN size(words) >= {_NOV_N}
       THEN sequence(0, size(words) - {_NOV_N}) ELSE array() END) e AS i
"""


# ``s`` feeds both the corpus-wide count AND the occurrence join; as
# a CTE the shingle explode+md5 would run twice, so the Spark path
# persists it once.
_NOV_SPARK = f"""
WITH s AS (
  SELECT * FROM {{shingles}}
), c AS (
  SELECT h, COUNT(*) AS n FROM s GROUP BY h
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN c.n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(SUM(CASE WHEN c.n = 1 THEN 1 ELSE 0 END) * 1000000 DIV COUNT(*)
            AS BIGINT) AS novelty_ppm
FROM s JOIN c USING (h)
GROUP BY source
"""


_NOV_DUCK = f"""
WITH w AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x != '') AS words
  FROM documents
), s AS (
  SELECT source,
         md5(array_to_string(list_slice(words, i + 1, i + {_NOV_N}), ' ')) AS h
  FROM w, UNNEST(range(greatest(len(words) - {_NOV_N} + 1, 0))) AS t(i)
), c AS (
  SELECT h, COUNT(*) AS n FROM s GROUP BY h
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN c.n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(SUM(CASE WHEN c.n = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
            AS BIGINT) AS novelty_ppm
FROM s JOIN c USING (h)
GROUP BY source
"""


#   * ``curate_ngram_novelty`` — per-source 8-gram novelty rate: the
#     share of shingle occurrences whose hash appears exactly once in
#     the whole corpus. The corpus-health complement of dedup — a
#     source whose novelty collapses is templated or self-copying.
#     Shuffles carry md5 hashes only, never text.
def curate_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of 8-gram occurrences unique across the corpus, per
    source. Shingle hashes aggregate once (md5 keys only on the
    wire), then join back to occurrences — the same two-shuffle shape
    as the dedup inverted index, emitting a per-source health row
    instead of pairs. The shingle relation is persisted because the
    count and the join both consume it — as a CTE the explode+md5
    ran twice."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r21_nov_docs"
    )
    track_persist(
        spark.sql(_NOV_SHINGLES_SPARK.format(docs="r21_nov_docs"))
    ).createOrReplaceTempView("r21_nov_shingles")
    return spark.sql(_NOV_SPARK.format(shingles="r21_nov_shingles"))


_PIPE_CORE = """
WITH base AS (
  SELECT doc_id, text, n_chars,
         {ntok} AS nt
  FROM {docs} WHERE doc_id % 11 != 0
), q AS (
  SELECT * FROM base WHERE nt >= 20 AND n_chars BETWEEN 100 AND 2000
), dly AS (
  SELECT doc_id, text, n_chars, nt,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM q
), d AS (
  SELECT doc_id, text, n_chars, nt FROM dly WHERE rn = 1
), corpus_grams AS (
  {grams_corpus}
), eval_grams AS (
  {grams_eval}
), contaminated AS (
  SELECT DISTINCT c.doc_id FROM corpus_grams c
  JOIN eval_grams e ON c.g = e.g
), clean AS (
  SELECT d.* FROM d LEFT JOIN contaminated x ON d.doc_id = x.doc_id
  WHERE x.doc_id IS NULL
), split AS (
  SELECT doc_id, nt,
         CASE WHEN {bucket} < 90 THEN '5_train' ELSE '5_val' END AS split
  FROM clean
)
SELECT stage,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM (
  SELECT '0_pool' AS stage, COUNT(*) AS n_docs, SUM(nt) AS n_tokens
  FROM base
  UNION ALL
  SELECT '1_quality', COUNT(*), SUM(nt) FROM q
  UNION ALL
  SELECT '2_dedup', COUNT(*), SUM(nt) FROM d
  UNION ALL
  SELECT '3_decontaminated', COUNT(*), SUM(nt) FROM clean
  UNION ALL
  SELECT split, COUNT(*), SUM(nt) FROM split GROUP BY split
)
"""


_GRAMS_SPARK = """
  SELECT doc_id,
         explode(array_distinct(transform(sequence(1, greatest(size(t) - 7, 1)),
             i -> md5(concat_ws(' ', slice(t, i, 8)))))) AS g
  FROM (SELECT doc_id, split(text, ' ') AS t FROM {src})
"""


_GRAMS_DUCK = """
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, greatest(len(t) - 7, 1) + 1),
             i -> md5(array_to_string(t[i : i + 7], ' '))))) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM {src})
"""


_PIPE_SPARK = _PIPE_CORE.format(
    docs="{docs}",
    ntok="size(filter(split(text, ' '), x -> x != ''))",
    grams_corpus=_GRAMS_SPARK.format(src="d"),
    grams_eval=_GRAMS_SPARK.format(
        src="(SELECT doc_id, text FROM {docs} WHERE doc_id % 11 = 0)"
    ),
    bucket="CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10)"
    " AS BIGINT) % 100",
)


_PIPE_DUCK = _PIPE_CORE.format(
    docs="documents",
    ntok="len(list_filter(string_split(text, ' '), x -> x != ''))",
    grams_corpus=_GRAMS_DUCK.format(src="d"),
    grams_eval=_GRAMS_DUCK.format(
        src="(SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0)"
    ),
    bucket="CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)"
    " AS BIGINT) % 100",
)


# ``curate_corpus_pipeline_report`` chains the production corpus
# pipeline — quality gate → exact dedup → benchmark decontamination →
# train/val split — inside a single query and reports the funnel
# (documents and tokens surviving each stage). Stage semantics reuse
# the standalone operators' exact definitions: the C4-ish quality band
# (``curate_quality_filter_cascade``), first-occurrence md5 dedup
# (``dedup_exact``), shared-8-gram decontamination against the held-out
# eval slice (``curate_contamination_check``), and the md5-bucket split
# (``curate_train_split``). Because the whole pipeline is one logical
# plan, Catalyst prunes/pushes across stage boundaries — the thing a
# stage-per-job orchestration can never do — and the per-stage counts
# come from one pass over each intermediate.
#
# Scale posture: the corpus flows through exactly three shuffles
# (md5 dedup key; 8-gram semi-join key — 32-byte hashes, never text;
# final aggregates), and every stage's predicate reaches the scan of
# the stage before it. The eval-gram relation is a fraction of the
# corpus and AQE-broadcastable.
def curate_corpus_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate → exact dedup → 8-gram decontamination →
    train/val split as one plan; output is the stage funnel (docs,
    tokens). See module docstring for the shuffle budget."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "c3_pipe_docs"
    )
    return spark.sql(_PIPE_SPARK.format(docs="c3_pipe_docs"))


# ---------------------------------------------------------------------------
# Token-budget corpus fill over the distributed prefix sum
# ---------------------------------------------------------------------------

# Fixed budget (tokens). The fixtures carry ~27k tokens at sf0.001 and
# sf0.01 and ~270k at sf0.1, so the fill selects a real prefix at
# every scale; at 100 TB the budget is the training-run token count.
_FILL_BUDGET = 15_000


#   * ``curate_token_budget_fill`` — fill a fixed global token budget
#     by taking documents in a deterministic pseudo-random order
#     (md5(doc_id) — a seedless uniform shuffle both engines replay
#     exactly) until the running token total crosses the budget. The
#     running total is the ``global_prefix_sum`` primitive — ONE range
#     exchange, no single-partition window — making this the first plan
#     consumer of the distributed prefix sum (previously only
#     library-tested). The corpus-subsampling shape every
#     fixed-token-count training run starts with.
def curate_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform document sample until ``_FILL_BUDGET``
    tokens: order by md5(doc_id) (seedless shuffle), take every
    document whose running token total STARTS below the budget (so
    the crossing document is included and the selection is a prefix).
    The running total comes from ``global_prefix_sum`` — range
    exchange + per-partition cumsum + broadcast offsets, never a
    single-partition window — so the fill scales to any corpus.
    Reported per source: the mixture a budget cut actually produces."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("hk"),
    )
    cum = global_prefix_sum(
        docs, order_by=["hk", "doc_id"], value_col="n_tokens",
        out_col="cum_tokens",
    )
    return (
        cum.where(F.col("cum_tokens") - F.col("n_tokens") < _FILL_BUDGET)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs_selected"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_selected"),
        )
        .orderBy("source")
    )


_FILL_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS hk
  FROM documents
), c AS (
  SELECT source, n_tokens,
         SUM(n_tokens) OVER (ORDER BY hk, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_selected,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_selected
FROM c
WHERE cum_tokens - n_tokens < {_FILL_BUDGET}
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Per-domain caps
# ---------------------------------------------------------------------------

_DOMAIN_CAP = 5


_CAPS_CORE = f"""
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS {{str}})), doc_id)
           AS rk
  FROM {{docs}}
)
SELECT source, CAST(doc_id AS BIGINT) AS doc_id, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_DOMAIN_CAP}
ORDER BY source, rk
"""


#   * ``curate_domain_caps`` — CommonCrawl-style per-domain document
#     cap: keep at most N docs per source, chosen by deterministic
#     content-free hash order so reruns and engines agree.
def curate_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the CommonCrawl 'at most N pages per
    domain' rule): keep the first {cap} docs per source in
    deterministic md5(doc_id) order — content-free, so the selection
    is stable across reruns, engines, and re-partitionings, and
    adding documents to OTHER domains never changes a domain's kept
    set. One row_number window per source (single shuffle on the
    domain key); a hot mega-domain bounds at its own row count, and
    since only rank <= N survives, a production variant short-circuits
    via per-partition pre-filtering (rank <= N within each partition
    first) — the standard top-k-per-group optimization the operator
    library's topk_per_group documents.""".format(cap=_DOMAIN_CAP)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r42_caps_docs"
    )
    return spark.sql(_CAPS_CORE.format(docs="r42_caps_docs", str="STRING"))


_CAPS_DUCK = _CAPS_CORE.format(docs="documents", str="VARCHAR")


# ---------------------------------------------------------------------------
# Deterministic rejection resampling
# ---------------------------------------------------------------------------

_REJ_CORE = """
WITH mx AS (
  SELECT MAX(n_chars) AS mc FROM {docs}
), draws AS (
  SELECT source,
         n_chars * 1000000 {idiv} mc AS p_micro,
         {hexint} % 1000000 AS u_micro
  FROM {docs} CROSS JOIN mx
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN u_micro < p_micro THEN 1 ELSE 0 END) AS BIGINT)
         AS n_accepted,
       CAST(SUM(p_micro) {idiv} COUNT(*) AS BIGINT) AS mean_p_micro
FROM draws
GROUP BY source
ORDER BY source
"""


#   * ``curate_rejection_sampling`` — deterministic importance
#     resampling: accept each doc with probability proportional to a
#     target score (here: length), decided by comparing the score
#     against a content-free md5 uniform — reruns, engines and
#     partitionings all agree, and acceptance needs ONE scan plus a
#     broadcast scalar max.
def curate_rejection_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rejection resampling toward a long-document
    target: accept doc with probability n_chars/max(n_chars), decided
    by u < p where u is a content-free md5(doc_id) uniform in
    [0, 1e6) — the DSIR paper's second stage (importance weights ->
    resample), with the hash replacing the RNG so engines, reruns
    and partitionings agree row-for-row. One scan + a broadcast
    1-row max; the acceptance decision never shuffles documents, so
    at 100 TB this costs exactly one pass regardless of the
    acceptance rate."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "ts3_rej_docs"
    )
    return spark.sql(
        _REJ_CORE.format(
            docs="ts3_rej_docs",
            idiv="DIV",
            hexint=(
                "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12),"
                " 16, 10) AS BIGINT)"
            ),
        )
    )


_REJ_DUCK = _REJ_CORE.format(
    docs="documents",
    idiv="//",
    hexint=(
        "CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))"
        " AS BIGINT)"
    ),
)


# ---------------------------------------------------------------------------
# Language temperature sampling
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.7


_TEMP_CORE = f"""
WITH c AS (
  SELECT lang, COUNT(*) AS n FROM {{docs}} GROUP BY lang
), t AS (
  SELECT lang, n, SUM(n) OVER () AS nt,
         CAST(floor(pow(CAST(n AS DOUBLE) / SUM(n) OVER (), {_TEMP_ALPHA})
                    * 1000000) AS BIGINT) AS w_micro
  FROM c
), norm AS (
  SELECT lang, n, nt, w_micro, SUM(w_micro) OVER () AS wt_micro FROM t
)
SELECT lang,
       CAST(n AS BIGINT) AS n_docs,
       CAST(n * 1000000 {{idiv}} nt AS BIGINT) AS p_micro,
       CAST(w_micro * 1000000 {{idiv}} wt_micro AS BIGINT)
         AS w_temp_micro,
       CAST(w_micro * nt {{idiv}} wt_micro AS BIGINT) AS expected_docs
FROM norm ORDER BY lang
"""


#   * ``curate_language_temperature`` — the mT5/XLM-R multilingual
#     sampling rule: upsample low-resource languages with weights
#     proportional to p_lang^alpha (alpha = 0.7). Weights are per-term
#     micro-floored integers so the normalization is exact.
def curate_language_temperature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-based multilingual sampling weights (alpha = 0.7,
    the mT5 default): each language's raw share p is flattened to
    p^alpha and renormalized, upsampling the tail. The p^alpha term
    floors to integer micros per language BEFORE the normalizing sum,
    so the published weights and expected-docs targets are exact
    integer arithmetic over those micros. One groupBy over the corpus
    and a 5-row window — at 100 TB the cost is the language count
    scan a mixture plan needs anyway."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r44_temp_docs"
    )
    return spark.sql(_TEMP_CORE.format(docs="r44_temp_docs", idiv="DIV"))


_TEMP_DUCK = _TEMP_CORE.format(docs="documents", idiv="//")


# ---------------------------------------------------------------------------
# Mixture epochs
# ---------------------------------------------------------------------------

_ME_ALPHA = 0.7


_ME_BUDGET_X = 2  # token budget = 2x the corpus


_EPOCHS_CORE = f"""
WITH c AS (
  SELECT source,
         SUM({{wc}}) AS toks
  FROM {{docs}} GROUP BY source
), t AS (
  SELECT source, toks, SUM(toks) OVER () AS tt,
         CAST(floor(pow(CAST(toks AS DOUBLE) / SUM(toks) OVER (),
                        {_ME_ALPHA}) * 1000000) AS BIGINT) AS w_micro
  FROM c
), norm AS (
  SELECT source, toks, tt, w_micro, SUM(w_micro) OVER () AS wt FROM t
)
SELECT source,
       CAST(toks AS BIGINT) AS n_tokens,
       CAST(w_micro * 1000000 {{idiv}} wt AS BIGINT) AS w_mix_micro,
       CAST(w_micro * tt * {_ME_BUDGET_X} {{idiv}} wt AS BIGINT)
         AS budget_tokens,
       CAST((w_micro * tt * {_ME_BUDGET_X} {{idiv}} wt) * 1000000
            {{idiv}} toks AS BIGINT) AS epochs_micro
FROM norm ORDER BY source
"""


#   * ``curate_mixture_epochs`` — The-Pile-style mixture table: given
#     temperature-flattened source weights and a token budget of 2x
#     the corpus, how many EPOCHS of each source does one training run
#     consume? Token counts per source come from size(split()) — no
#     explode, one scan — and every published number is exact integer
#     micro-arithmetic over per-term-floored weights.
def curate_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pile's mixture table for this corpus: temperature-
    flattened source weights (p^0.7 over TOKEN counts, not doc
    counts — the unit a training run consumes) and, for a 2x-corpus
    token budget, each source's allocated tokens and oversampling
    EPOCHS (epochs > 1e6 micro means the source repeats). Token
    counts use size(split()) per doc — no explode, one map-combined
    scan; weights floor to integer micros per source before
    normalization so the whole table is exact integer arithmetic.
    Differs from `curate_mixture_weights` (doc-count mixture
    reporting) and `curate_language_temperature` (language axis,
    doc counts): this is the token-budget planning artifact."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r45_me_docs"
    )
    return spark.sql(
        _EPOCHS_CORE.format(
            docs="r45_me_docs",
            wc="size(filter(split(text, ' '), x -> x != ''))",
            idiv="DIV",
        )
    )


_EPOCHS_DUCK = _EPOCHS_CORE.format(
    docs="documents",
    wc="len(list_filter(string_split(text, ' '), x -> x != ''))",
    idiv="//",
)


# ---------------------------------------------------------------------------
# Quality threshold sweep
# ---------------------------------------------------------------------------

_SWEEP_BINS = 16


_SWEEP_CORE = f"""
WITH tot AS (
  SELECT SUM(c) AS s FROM (SELECT COUNT(*) AS c FROM {{tok}} GROUP BY token)
), docscore AS (
  SELECT t.doc_id,
         COUNT(*) AS n_toks,
         SUM(CAST(floor(-ln(CAST(tc.c AS DOUBLE) / tot.s) * 1000000)
                  AS BIGINT)) {{idiv}} COUNT(*) AS score_micro
  FROM {{tok}} t
  JOIN (SELECT token, COUNT(*) AS c FROM {{tok}} GROUP BY token) tc
    ON tc.token = t.token
  CROSS JOIN tot
  GROUP BY t.doc_id
), span AS (
  SELECT MIN(score_micro) AS lo, MAX(score_micro) AS hi FROM docscore
), binned AS (
  SELECT LEAST((score_micro - lo) * {_SWEEP_BINS}
                 {{idiv}} GREATEST(hi - lo, 1), {_SWEEP_BINS} - 1) AS bin,
         n_toks, lo, hi
  FROM docscore CROSS JOIN span
), hist AS (
  SELECT bin, COUNT(*) AS n_docs, SUM(n_toks) AS n_toks,
         MIN(lo) AS lo, MIN(hi) AS hi
  FROM binned GROUP BY bin
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(lo + (bin + 1) * (hi - lo) {{idiv}} {_SWEEP_BINS} AS BIGINT)
         AS threshold_micro,
       CAST(SUM(n_docs) OVER (ORDER BY bin) AS BIGINT) AS docs_kept,
       CAST(SUM(n_docs) OVER (ORDER BY bin) * 1000000
            {{idiv}} SUM(n_docs) OVER () AS BIGINT) AS docs_kept_ppm,
       CAST(SUM(n_toks) OVER (ORDER BY bin) * 1000000
            {{idiv}} SUM(n_toks) OVER () AS BIGINT) AS tokens_kept_ppm
FROM hist ORDER BY bin
"""


_SWEEP_SPARK = f"""
WITH docscore AS (
  SELECT t.doc_id,
         COUNT(*) AS n_toks,
         SUM(CAST(floor(-ln(CAST(tc.c AS DOUBLE) / {{s}}) * 1000000)
                  AS BIGINT)) DIV COUNT(*) AS score_micro
  FROM {{tok}} t
  JOIN (SELECT token, COUNT(*) AS c FROM {{tok}} GROUP BY token) tc
    ON tc.token = t.token
  GROUP BY t.doc_id
), span AS (
  SELECT MIN(score_micro) AS lo, MAX(score_micro) AS hi FROM docscore
), binned AS (
  SELECT LEAST((score_micro - lo) * {_SWEEP_BINS}
                 DIV GREATEST(hi - lo, 1), {_SWEEP_BINS} - 1) AS bin,
         n_toks, lo, hi
  FROM docscore CROSS JOIN span
), hist AS (
  SELECT bin, COUNT(*) AS n_docs, SUM(n_toks) AS n_toks,
         MIN(lo) AS lo, MIN(hi) AS hi
  FROM binned GROUP BY bin
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(lo + (bin + 1) * (hi - lo) DIV {_SWEEP_BINS} AS BIGINT)
         AS threshold_micro,
       CAST(SUM(n_docs) OVER (ORDER BY bin) AS BIGINT) AS docs_kept,
       CAST(SUM(n_docs) OVER (ORDER BY bin) * 1000000
            DIV SUM(n_docs) OVER () AS BIGINT) AS docs_kept_ppm,
       CAST(SUM(n_toks) OVER (ORDER BY bin) * 1000000
            DIV SUM(n_toks) OVER () AS BIGINT) AS tokens_kept_ppm
FROM hist ORDER BY bin
"""


#   * ``curate_quality_threshold_sweep`` — the filter-calibration
#     curve: per-doc mean unigram surprisal binned into 16 equal-width
#     thresholds with cumulative docs-kept and tokens-kept fractions.
#     Answering 'where do we set the perplexity cut' costs one
#     histogram + a 16-row window, not sixteen filter runs.
def curate_quality_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filter-calibration curve for a surprisal-based quality cut:
    per-doc mean unigram surprisal (integer micro-nats per token,
    corpus LM from the same tokenization) binned into 16 equal-width
    thresholds, with cumulative docs-kept and tokens-kept fractions
    per threshold. The corpus tokenizes ONCE into a persisted token
    relation feeding both the LM counts and the doc scoring join;
    the sweep itself is a 16-row cumulative window — evaluating all
    16 candidate cuts costs one histogram, the same discipline as
    the decision-stump split search. The tokens-kept column is the
    one that matters for a training budget: it shows how much corpus
    each stricter perplexity cut actually costs.

    Round 11 (guide §2.4): the corpus token total SUM over the
    unigram counts is COUNT(*) of the token relation — a scalar
    count of the persisted cache instead of a second full
    groupBy-token shuffle — inlined as a literal (the oracle keeps
    the tot CTE; equality is definitional, both count every
    non-empty token once). The empty-corpus edge is unchanged:
    docscore is empty before the literal is ever evaluated."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("r47_sweep_docs")
    tok = track_persist(
        spark.sql(
            """
            SELECT doc_id, token FROM r47_sweep_docs
            LATERAL VIEW explode(
              filter(split(text, ' '), x -> x != '')) t AS token
            """
        )
    )
    tok.createOrReplaceTempView("r47_sweep_tok")
    s = tok.count()  # bounded scalar: the corpus token total
    return spark.sql(_SWEEP_SPARK.format(tok="r47_sweep_tok", s=s))


_SWEEP_DUCK = (
    """
WITH sweep_tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x != ''))
           AS token
  FROM documents
)"""
    + _SWEEP_CORE.replace("WITH tot AS (", ", tot AS (", 1).format(
        tok="sweep_tok", idiv="//"
    )
)


# ---------------------------------------------------------------------------
# Source overlap matrix
# ---------------------------------------------------------------------------

_OVL_SHINGLE = 5


_OVL_CORE = f"""
WITH srcdim AS (
  SELECT source, ROW_NUMBER() OVER (ORDER BY source) AS rn
  FROM (SELECT DISTINCT source FROM {{docs}})
), grams AS (
  SELECT DISTINCT gh, source FROM {{grams}}
), masks AS (
  SELECT g.gh, SUM({{shl}}) AS mask
  FROM grams g JOIN srcdim s ON s.source = g.source
  GROUP BY g.gh
), mh AS (
  SELECT mask, COUNT(*) AS cnt FROM masks GROUP BY mask
), totals AS (
  SELECT s.rn, s.source, SUM(CASE WHEN (mh.mask & {{shl_s}}) > 0
                                  THEN mh.cnt ELSE 0 END) AS n_grams
  FROM srcdim s CROSS JOIN mh
  GROUP BY s.rn, s.source
), pairs AS (
  SELECT a.rn AS ra, a.source AS sa, a.n_grams AS ga,
         b.rn AS rb, b.source AS sb, b.n_grams AS gb
  FROM totals a JOIN totals b ON a.rn < b.rn
), inter AS (
  SELECT p.sa, p.sb, p.ga, p.gb,
         SUM(CASE WHEN (mh.mask & {{shl_a}}) > 0
                   AND (mh.mask & {{shl_b}}) > 0
                  THEN mh.cnt ELSE 0 END) AS shared
  FROM pairs p CROSS JOIN mh
  GROUP BY p.sa, p.sb, p.ga, p.gb
)
SELECT sa AS source_a, sb AS source_b,
       CAST(ga AS BIGINT) AS grams_a,
       CAST(gb AS BIGINT) AS grams_b,
       CAST(shared AS BIGINT) AS shared_grams,
       CAST(CASE WHEN ga + gb - shared > 0
                 THEN 1000 * shared {{idiv}} (ga + gb - shared)
                 ELSE 0 END AS BIGINT) AS jaccard_milli
FROM inter
ORDER BY source_a, source_b
"""


#   * ``curate_source_overlap_matrix`` — pairwise 5-gram shingle
#     overlap between the 20 corpus sources via a single gram
#     aggregation into per-gram source BITMASKS (sources ≤ 62, so one
#     int64 carries the whole incidence row); every pairwise count
#     then reads the tiny mask histogram, never the grams again.
def curate_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle overlap between corpus sources — 'which
    source scraped which' — via ONE gram aggregation into per-gram
    source bitmasks (20 sources ⇒ bits 0..19 of one int64), then a
    mask histogram small enough that all 190 pairwise
    intersection/Jaccard numbers are computed from it without
    touching the grams again.  The heavy work is exactly one shuffle
    of distinct (gram-HASH, source) pairs — shingles are folded to
    48-bit md5 ints map-side, so 8-byte keys shuffle, never text
    (locally neutral — the md5 cost offsets the smaller shuffle —
    but the honest posture at 100 TB where shuffle bytes are the
    bill; a 48-bit space holds ~10^7 grams before birthday
    collisions bias a Jaccard count by more than ~1e-5).
    At 62+ sources the mask becomes an array chunk — the contract is
    documented, not silently wrong (the row-number dimension makes
    the bit assignment deterministic in both engines)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "r52_ovl_docs"
    )
    spark.sql(
        f"""
        SELECT CAST(conv(substring(md5(
                 concat_ws(' ', slice(t, i, {_OVL_SHINGLE}))), 1, 12),
                 16, 10) AS BIGINT) AS gh,
               source
        FROM (SELECT source, filter(split(text, ' '), x -> x != '') AS t
              FROM r52_ovl_docs)
        LATERAL VIEW explode(sequence(1, size(t) - {_OVL_SHINGLE} + 1))
          e AS i
        WHERE size(t) >= {_OVL_SHINGLE}
        """
    ).createOrReplaceTempView("r52_ovl_grams")
    return spark.sql(
        _OVL_CORE.format(
            docs="r52_ovl_docs",
            grams="r52_ovl_grams",
            shl="shiftleft(CAST(1 AS BIGINT), CAST(s.rn AS INT) - 1)",
            shl_s="shiftleft(CAST(1 AS BIGINT), CAST(s.rn AS INT) - 1)",
            shl_a="shiftleft(CAST(1 AS BIGINT), CAST(p.ra AS INT) - 1)",
            shl_b="shiftleft(CAST(1 AS BIGINT), CAST(p.rb AS INT) - 1)",
            idiv="DIV",
        )
    )


_OVL_DUCK = _OVL_CORE.format(
    docs="documents",
    grams=(
        f"""(
  SELECT CAST(concat('0x', substring(md5(
           array_to_string(list_slice(t, i, i + {_OVL_SHINGLE} - 1), ' ')),
           1, 12)) AS BIGINT) AS gh,
         source
  FROM (SELECT source, list_filter(string_split(text, ' '), x -> x != '')
          AS t
        FROM documents),
       UNNEST(range(1, 1200)) AS u(i)
  WHERE i <= len(t) - {_OVL_SHINGLE} + 1
)"""
    ),
    shl="(CAST(1 AS BIGINT) << (CAST(s.rn AS INT) - 1))",
    shl_s="(CAST(1 AS BIGINT) << (CAST(s.rn AS INT) - 1))",
    shl_a="(CAST(1 AS BIGINT) << (CAST(p.ra AS INT) - 1))",
    shl_b="(CAST(1 AS BIGINT) << (CAST(p.rb AS INT) - 1))",
    idiv="//",
)


QUERIES = {
    "curate_train_split": curate_train_split,
    "curate_corpus_upsert": curate_corpus_upsert,
    "curate_contamination_check": curate_contamination_check,
    "curate_quality_filter": curate_quality_filter,
    "curate_stratified_sample": curate_stratified_sample,
    "curate_pack_sequences": curate_pack_sequences,
    "curate_cluster_representatives": curate_cluster_representatives,
    "curate_weighted_sample": curate_weighted_sample,
    "curate_mixture_weights": curate_mixture_weights,
    "curate_semdedup": curate_semdedup,
    "curate_dataset_cards": curate_dataset_cards,
    "curate_quality_filter_cascade": curate_quality_filter_cascade,
    "curate_importance_weights": curate_importance_weights,
    "curate_ngram_novelty": curate_ngram_novelty,
    "curate_corpus_pipeline_report": curate_corpus_pipeline_report,
    "curate_token_budget_fill": curate_token_budget_fill,
    "curate_domain_caps": curate_domain_caps,
    "curate_rejection_sampling": curate_rejection_sampling,
    "curate_language_temperature": curate_language_temperature,
    "curate_mixture_epochs": curate_mixture_epochs,
    "curate_quality_threshold_sweep": curate_quality_threshold_sweep,
    "curate_source_overlap_matrix": curate_source_overlap_matrix,
}

ORACLE = {
    "curate_train_split": _SPLIT_DUCK,
    "curate_corpus_upsert": _UPSERT_DUCK,
    "curate_contamination_check": _CONTAM_DUCK,
    "curate_quality_filter": _FILTER_DUCK,
    "curate_stratified_sample": _SAMPLE_DUCK,
    "curate_pack_sequences": _PACK_DUCK,
    "curate_cluster_representatives": _CLUSTER_REPS_SQL.format(
        minhash_pairs=_MINHASH_DUCK.format(shingles=_DUCK_SHINGLES)
    ),
    "curate_weighted_sample": _WEIGHTED_SQL,
    "curate_mixture_weights": _MIXTURE_DUCK,
    "curate_semdedup": _SEMDEDUP_DUCK,
    "curate_dataset_cards": _CARDS_SQL,
    "curate_quality_filter_cascade": _CASCADE_SQL,
    "curate_importance_weights": _DSIR_DUCK,
    "curate_ngram_novelty": _NOV_DUCK,
    "curate_corpus_pipeline_report": _PIPE_DUCK,
    "curate_token_budget_fill": _FILL_SQL,
    "curate_domain_caps": _CAPS_DUCK,
    "curate_rejection_sampling": _REJ_DUCK,
    "curate_language_temperature": _TEMP_DUCK,
    "curate_mixture_epochs": _EPOCHS_DUCK,
    "curate_quality_threshold_sweep": _SWEEP_DUCK,
    "curate_source_overlap_matrix": _OVL_DUCK,
}
