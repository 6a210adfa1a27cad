"""Deduplication operators over the ``documents`` table, and the
session-shared shingle and near-dup relations (``cache.shared``) that
the text, curation, similarity, graph and ML families reuse.

These are the LLM-training-pipeline operators the reference lacks
(SURVEY.md §2.9): exact dedup, MinHash-LSH near-dup, n-gram Jaccard
near-dup, SimHash, embedding-cosine near-dup, clustering and
calibration.

Scale design (100 TB posture):
  * all per-document work is pure column expressions over arrays
    (split/transform/aggregate/zip_with) — whole-stage codegen, zero
    shuffle, zero Python;
  * exact dedup groups on md5(text) — shuffling a 32-byte hash, not
    document bodies;
  * MinHash-LSH shuffles only (band_idx, band_key) pairs; candidate
    verification touches only bucket-collision pairs (classic
    Broder/LSH banding — b=4 bands × r=3 rows, s-curve threshold
    ≈ (1/4)^(1/3) ≈ 0.63);
  * n-gram Jaccard uses a shared-rare-shingle inverted index with a
    document-frequency cap as its candidate generator (deterministic,
    skew-proof: hot shingles are dropped by the cap).

Determinism: every hash is md5 (identical in Spark and DuckDB);
fold orders are explicit sequential aggregates, so doubles are
bit-reproducible at any parallelism.

Where the logic is expression-dense, the Spark plan is declared via
``spark.sql`` over a temp view — the SQL is Catalyst-optimized exactly
like the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import shared, track_persist
from ..sources.readers import load_table

# Kept for perfbench/client.py, which reads ``textdedup._SHARED``.
from ..cache import _SHARED  # noqa: F401


def _docs_wide_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Documents repartitioned to full parallelism for expression-heavy
    per-doc pipelines. The fixture files are single-row-group parquet,
    so they scan as ONE input partition and any compute placed before
    the first exchange runs on one core of 32 (measured: the shingle
    build alone was 13.9s at sf0.1, ~4x faster after spreading). The
    repartition shuffles only the slim base table. At cluster scale
    the same guard covers the few-huge-files layout where splits are
    capped by row-group boundaries."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    docs.createOrReplaceTempView(name)
    return name


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, lang, source, s=3-gram set) — shared by every
    shingle-consuming operator in the session."""
    def build():
        docs = _docs_wide_view(spark, sf_dir, "__docs_shared_sh")
        return spark.sql(_SPARK_SHINGLES.format(docs=docs))

    return shared(spark, sf_dir, "shingles3", build)


# Shared SQL fragments (valid in BOTH Spark SQL and DuckDB unless
# stated otherwise). Tokens: whitespace split. Shingles: word 3-grams.
_SPARK_SHINGLES = """
  SELECT doc_id, lang, source,
         array_distinct(transform(sequence(1, greatest(size(t) - 2, 1)),
                        i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))) AS s
  FROM (SELECT doc_id, lang, source, split(text, ' ') AS t FROM {docs})
"""


_DUCK_SHINGLES = """
  SELECT doc_id, lang, source,
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                       i -> concat_ws(' ', t[i], t[i + 1], t[i + 2]))) AS s
  FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS t FROM documents)
"""


# ---------------------------------------------------------------------------
# Exact dedup: group on content hash (hash-groupBy — never shuffle bodies)
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("text_md5"), "doc_id")
        .groupBy("text_md5")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_md5,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# MinHash-LSH near-duplicate pairs (k=12 hashes, b=4 bands × r=3)
# ---------------------------------------------------------------------------

# One md5 per shingle, then k affine permutations over GF(2^31-1):
# h_i(x) = (A[i] * (h0(x) mod p) + B[i]) mod p. ~10x cheaper than k
# salted md5s and still oracle-reproducible (hex->int parses
# identically in Spark's conv() and DuckDB's 0x-cast).
_MH_A = [7, 13, 31, 61, 127, 251, 509, 1021, 2039, 4093, 8191, 16381]


_MH_B = [3, 17, 29, 47, 71, 97, 113, 131, 149, 167, 181, 199]


_MH_P = 2147483647


_MINHASH_BANDS_SPARK = f"""
WITH hashed AS (
  SELECT doc_id,
         transform(s, x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT) % {_MH_P}) AS h0
  FROM {{sh}}
),
sig AS (
  SELECT doc_id,
         transform(sequence(0, 11),
                   i -> array_min(transform(h0,
                        h -> (element_at(array({", ".join(map(str, _MH_A))}), CAST(i AS INT) + 1) * h
                              + element_at(array({", ".join(map(str, _MH_B))}), CAST(i AS INT) + 1)) % {_MH_P}))) AS mh
  FROM hashed
)
SELECT doc_id, b.band_idx, b.band_key
FROM (
  SELECT doc_id,
         explode(transform(sequence(0, 3),
             j -> struct(j AS band_idx,
                         md5(concat_ws(',', transform(slice(mh, j * 3 + 1, 3),
                                                      v -> CAST(v AS STRING)))) AS band_key))) AS b
  FROM sig
)
"""


_MINHASH_DUCK = f"""
WITH sh AS ({{shingles}}),
hashed AS (
  SELECT doc_id, s,
         list_transform(s, x -> CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT) % {_MH_P}) AS h0
  FROM sh
),
sig AS (
  SELECT doc_id, s,
         list_transform(range(0, 12),
                        i -> list_min(list_transform(h0,
                             h -> (([{", ".join(map(str, _MH_A))}])[i + 1] * h
                                   + ([{", ".join(map(str, _MH_B))}])[i + 1]) % {_MH_P}))) AS mh
  FROM hashed
),
bands AS (
  SELECT doc_id, j AS band_idx,
         md5(concat_ws(',', CAST(mh[j * 3 + 1] AS VARCHAR), CAST(mh[j * 3 + 2] AS VARCHAR),
                            CAST(mh[j * 3 + 3] AS VARCHAR))) AS band_key
  FROM sig, range(0, 4) r(j)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
         / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS jaccard
FROM cand c
JOIN sh x ON x.doc_id = c.doc_a
JOIN sh y ON y.doc_id = c.doc_b
WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.6
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle -> signature -> band buckets -> candidate pairs ->
    exact-Jaccard verify.

    The shingle sets and band table each feed two join sides; they are
    persisted so the (HOF-interpreted, non-codegen) signature pipeline
    runs once, not four times — at corpus scale recomputing signatures
    per join side is the difference between one pass and four.
    """
    def build():
        sh = _shingle_sets(spark, sf_dir)
        sh.createOrReplaceTempView("__mh_sh")
        bands = track_persist(spark.sql(_MINHASH_BANDS_SPARK.format(sh="__mh_sh")))
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        x = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
        y = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
        inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
        jac = inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
        return (
            cand.join(x, "doc_a")
            .join(y, "doc_b")
            .withColumn("jaccard", jac)
            .where(F.col("jaccard") >= 0.6)
            .select("doc_a", "doc_b", "jaccard")
        )

    return shared(spark, sf_dir, "minhash_pairs", build)


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup via shared-5-gram inverted index (df cap = 20)
# ---------------------------------------------------------------------------

# NOTE: generator stays INLINE in the projection — `LATERAL VIEW
# explode(expensive_expr)` re-evaluates the expression per OUTPUT row
# (measured 8.3s vs 0.3s on this exact query at sf0.1); the inline
# form evaluates it once per input row.
_NGRAM_INV_SPARK = """
SELECT doc_id,
       explode(array_distinct(transform(sequence(1, greatest(size(t) - 4, 1)),
           i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2),
                               element_at(t, i + 3), element_at(t, i + 4))))) AS gram
FROM (SELECT doc_id, split(text, ' ') AS t FROM {docs})
"""


_NGRAM_DUCK = """
WITH sh AS ({shingles}),
g5 AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 4, 1) + 1),
             i -> concat_ws(' ', t[i], t[i + 1], t[i + 2], t[i + 3], t[i + 4]))) AS s5
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
inv AS (SELECT doc_id, unnest(s5) AS gram FROM g5),
rare AS (SELECT gram FROM inv GROUP BY gram HAVING COUNT(*) <= 20),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM inv a
  JOIN rare r ON a.gram = r.gram
  JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
         / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS jaccard
FROM cand c
JOIN sh x ON x.doc_id = c.doc_a
JOIN sh y ON y.doc_id = c.doc_b
WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.5
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted 5-gram index (df cap 20 kills hot shingles, so no
    skewed join key) -> candidate pairs -> exact 3-gram Jaccard over
    the session-shared shingle sets."""
    docs = _docs_wide_view(spark, sf_dir, "__docs_ng")
    # ONE shuffle: group the inverted index into per-gram postings,
    # keep buckets with 2..20 docs (the df cap), and emit candidate
    # pairs directly from each tiny bucket with an expression-level
    # pair comprehension. df=1 grams (the vast majority) die in the
    # aggregation; no index self-join, no second shuffle of the index.
    cand = (
        spark.sql(_NGRAM_INV_SPARK.format(docs=docs))
        .groupBy("gram")
        .agg(F.collect_list("doc_id").alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= 20))
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(ds, a -> transform(ds, b -> struct(a, b)))),"
                    " p -> p.a < p.b)"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )
    sh = _shingle_sets(spark, sf_dir)
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jac = inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash: 64-bit signature, computed shuffle-free per document
# ---------------------------------------------------------------------------

_SIMHASH_SPARK = """
WITH h AS (
  SELECT doc_id,
         transform(array_distinct(split(text, ' ')), t -> substring(md5(t), 1, 16)) AS hs
  FROM {docs}
),
b AS (
  SELECT doc_id,
         aggregate(
           hs,
           transform(sequence(0, 63), p -> CAST(0 AS BIGINT)),
           (acc, hh) -> zip_with(
             acc,
             transform(sequence(0, 63),
               p -> CAST(2 * (((instr('0123456789abcdef', substring(hh, CAST(p DIV 4 AS INT) + 1, 1)) - 1)
                               DIV element_at(array(8, 4, 2, 1), CAST(p % 4 AS INT) + 1)) % 2) - 1 AS BIGINT)),
             (x, y) -> x + y)
         ) AS sums
  FROM h
)
SELECT doc_id,
       concat_ws('', transform(sums, v -> CASE WHEN v > 0 THEN '1' ELSE '0' END)) AS simhash,
       CAST(size(filter(sums, v -> v > 0)) AS BIGINT) AS nbits_set
FROM b
"""


_SIMHASH_DUCK = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents
),
th AS (SELECT doc_id, substring(md5(t), 1, 16) AS h FROM tok),
bit AS (
  SELECT doc_id, p,
         2 * (((instr('0123456789abcdef', substring(h, p // 4 + 1, 1)) - 1)
               // ([8, 4, 2, 1])[p % 4 + 1]) % 2) - 1 AS c
  FROM th, range(0, 64) r(p)
),
s AS (SELECT doc_id, p, SUM(c) AS v FROM bit GROUP BY doc_id, p)
SELECT doc_id,
       string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS simhash,
       COUNT(*) FILTER (WHERE v > 0) AS nbits_set
FROM s
GROUP BY doc_id
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide_view(spark, sf_dir, "__docs_sh")
    return spark.sql(_SIMHASH_SPARK.format(docs=docs))


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a new batch checked against a known corpus
    by content hash — the shape of continuous ingestion, where the
    corpus side is a persisted hash table (here: docs from sources
    src0-src9 as 'corpus', the rest as 'new batch'). Anti-join on the
    32-byte md5, never on document bodies. A source that does not
    match ``src<digits>`` is classified NEW BATCH in both engines
    (the empty-match guard below): the bare cast diverged — Spark
    non-ANSI cast('') -> NULL silently dropped the row from BOTH
    sides while DuckDB errored (caught by the degenerate-fixture
    net, tests/test_degenerate_vectors.py)."""
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"src(\d+)", 1)
    is_corpus = F.when(src_num == "", F.lit(False)).otherwise(
        src_num.cast("int") < 10
    )
    hashed = docs.select(
        "doc_id", "source", F.md5("text").alias("text_md5"), is_corpus.alias("in_corpus")
    )
    corpus_hashes = hashed.where("in_corpus").select("text_md5").distinct()
    new_batch = hashed.where(~F.col("in_corpus"))
    fresh = new_batch.join(corpus_hashes, "text_md5", "left_anti")
    return fresh.groupBy("source").agg(
        F.count("*").alias("n_fresh_docs"),
        F.countDistinct("text_md5").alias("n_unique_texts"),
    )


_DEDUP_INCR_SQL = """
WITH hashed AS (
  SELECT doc_id, source, md5(text) AS text_md5,
         CASE WHEN regexp_extract(source, 'src(\\d+)', 1) = '' THEN FALSE
              ELSE CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) < 10
         END AS in_corpus
  FROM documents
),
corpus AS (SELECT DISTINCT text_md5 FROM hashed WHERE in_corpus)
SELECT source,
       COUNT(*) AS n_fresh_docs,
       COUNT(DISTINCT text_md5) AS n_unique_texts
FROM hashed
WHERE NOT in_corpus
  AND text_md5 NOT IN (SELECT text_md5 FROM corpus)
GROUP BY source
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair graph:
    iterative min-label propagation (each round = one join + one
    aggregation, all distributed; rounds ~ graph diameter, which for
    dedup graphs is tiny). Output: every clustered doc with its
    cluster id (= min doc_id in the component) and the elected keeper
    — the stage that turns pairwise dedup into actual row removal.
    The result is session-cached: downstream consumers (representative
    election) and repeated sweeps reuse one propagation run — the
    result is partition-count independent, so caching is sound."""
    return shared(spark, sf_dir, "cluster_labels", lambda: _dedup_clusters_build(spark, sf_dir))


def _dedup_clusters_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .distinct()
        .persist()
    )
    # Seed with round one's result directly: from identity labels the
    # first propagation yields min(node, min(neighbors)), computable
    # as ONE aggregation over the (bidirectional) edge list — no join,
    # no convergence count. Near-dup components are mostly cliques, so
    # this alone converges them and the loop usually runs one confirm
    # round. (Any upper-bound seeding is sound: propagation is
    # monotone toward the component minimum.)
    labels = (
        edges.groupBy("doc_a")
        .agg(F.min("doc_b").alias("nb"))
        .select(
            F.col("doc_a").alias("node"),
            F.least(F.col("doc_a"), F.col("nb")).alias("label"),
        )
    )
    # Size the loop's shuffle width to the GRAPH, not the session
    # default: the near-dup graph is orders of magnitude smaller than
    # the corpus (it holds only verified near-dup pairs), and every
    # round pays per-partition scheduling on its shuffles. ~50k edges
    # per partition, floor 4; a billion-edge graph on a real cluster
    # still widens to the session default. The width is applied with
    # EXPLICIT repartition() on the loop DataFrames (never by mutating
    # session conf, which a concurrent query on the same session would
    # observe); AQE coalesces the remaining aggregate exchanges.
    # Results are width-independent, pinned by tests/test_determinism.
    n_edges = edges.count()
    default_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_width = max(4, min(default_width, n_edges // 50_000 + 4))
    edges_r = track_persist(edges.repartition(loop_width, "doc_b"))
    edges_r.count()
    edges.unpersist()
    edges = edges_r
    labels = labels.repartition(loop_width, "node").localCheckpoint(
        eager=False
    )

    def _free_ckpt(df) -> None:
        # explicitly drop a superseded round's checkpointed blocks
        # (the analyzed plan of a localCheckpoint IS the LogicalRDD)
        # instead of leaving up to 20 node-sized snapshots for the
        # ContextCleaner to GC eventually; best-effort — the cleaner
        # remains the backstop
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass

    prev_ckpt = labels
    for _ in range(20):  # >> diameter of any dedup component
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.node)
            .groupBy(F.col("doc_a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # the convergence flag rides along in the same pass, so
        # each round costs ONE action (the count materializes the
        # checkpointed round result) instead of a second old-vs-new
        # join job. The LAZY localCheckpoint (not persist) is the
        # lineage cut: `labels` is referenced twice per round (the
        # neighbor join + the merge base), so a persist chain keeps a
        # logical plan that DOUBLES per round — by round 13 the
        # cached-labels plan carried ~8k Exchange nodes and every
        # consumer paid ~2s of pure analysis before touching the
        # (tiny, cached) data. Checkpointing pins the round result in
        # the block manager like persist did AND truncates the plan
        # to a LogicalRDD (the BFS/PageRank discipline); the RDD is
        # freed by the ContextCleaner when the reference drops.
        stepped = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("new_label"),
                (
                    F.coalesce(F.col("nbr_label"), F.col("label")) < F.col("label")
                ).alias("changed"),
            )
            .repartition(loop_width, "node")
            .localCheckpoint(eager=False)
        )
        changed = stepped.where("changed").count()
        # this round's result is materialized; the previous round's
        # checkpoint can no longer be referenced — free it now
        _free_ckpt(prev_ckpt)
        prev_ckpt = stepped
        labels = stepped.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    clusters = labels.groupBy("label").agg(
        F.count("*").alias("cluster_size"), F.min("node").alias("keeper_doc_id")
    )
    return (
        labels.join(clusters, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
            "keeper_doc_id",
        )
    )


_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
  {{minhash_pairs}}
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
  SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
),
clusters AS (
  SELECT cluster_id, COUNT(*) AS cluster_size, MIN(node) AS keeper_doc_id
  FROM labels GROUP BY cluster_id
)
SELECT node AS doc_id, labels.cluster_id, cluster_size, keeper_doc_id
FROM labels JOIN clusters ON labels.cluster_id = clusters.cluster_id
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: hashed bag-of-words embedding + centered
# sign-LSH candidate generation + exact sparse-dot verification.
# ---------------------------------------------------------------------------
# Pipeline (all integer-exact until the final cosine, so Spark and
# DuckDB agree bit-for-bit at any parallelism):
#   1. embed: token -> md5 -> dim in [0, 512); tf counts per (doc, dim)
#      — a sparse integer vector per document.
#   2. 32 deterministic hyperplanes h(j,d) (Knuth multiplicative hash
#      centered to [-2^31, 2^31)); plane score s(doc,j) = Σ c·h — an
#      exact BIGINT sum.
#   3. CENTERED sign bits: this corpus shares most of its vocabulary,
#      so every raw score is dominated by the common component and
#      plain sign-LSH bits are ~constant (measured 44% candidate rate).
#      Thresholding each plane at its corpus mean (s·n > Σs — cross-
#      multiplied to stay in exact integers) recenters the s-curve:
#      measured ~10% candidate rate with 100% recall of all
#      cos>=0.95 pairs at sf0.001 AND sf0.01 (pinned by
#      tests/test_embedding_dedup.py).
#   4. band signatures (8 bands x 8 rows, integer bit-packed —
#      order-insensitive SUM(bit<<pos), no collect_list ordering);
#      candidates = same (band, sig), doc_id_a < doc_id_b.
#   5. verify: exact integer sparse dot via the inverted-index join on
#      shared dims; cosine from integer dot and norms (sqrt/divide are
#      IEEE-correctly-rounded, identical in both engines).
# Scale: the only all-pairs surface is the LSH bucket self-join whose
# volume is tuned by (bands, rows); the verify join shuffles (pair,
# dim) integers, never documents. The 100 TB layout partitions by
# band signature.

# Spark side runs in three stages with the sparse-vector table (and
# the per-doc band signatures derived from it) persisted: `dims`
# feeds five consumers and `bands` two join sides — as CTEs the
# tokenize+explode+groupBy subtree would re-execute per consumer
# (Spark does not materialize WITH clauses; measured 8.7s -> ~1s at
# sf0.1).

_EMBCOS_DIMS_SPARK = """
SELECT doc_id,
       CAST(conv(substr(md5(tok), 1, 6), 16, 10) AS BIGINT) % 512 AS d,
       COUNT(*) AS c
FROM (SELECT doc_id, explode(split(text, ' ')) AS tok FROM {docs})
WHERE tok != ''
GROUP BY 1, 2
"""


# Plane scores via explode-then-aggregate: the (doc, dim) x 64-plane
# expansion stays in whole-stage codegen and the 64x-amplified rows
# are 3 BIGINTs wide. The map-side alternative (per-doc score ARRAYS
# via aggregate-inside-transform, shuffling one row per doc) was
# tried and measured 40% SLOWER here — nested higher-order lambdas
# run interpreted, and at this scale codegen arithmetic + a narrow
# shuffle beats interpreted map work. On a real cluster where the
# shuffle fabric (not CPU) is the constraint, flip to the array form.
_EMBCOS_BANDS_SPARK = """
WITH scores AS (
  SELECT doc_id, j,
         SUM(c * (((j * 512 + d) * 2654435761) % 4294967296 - 2147483648)) AS s
  FROM (SELECT doc_id, d, c, explode(sequence(0, 63)) AS j FROM {dims})
  GROUP BY doc_id, j
),
th AS (SELECT j, SUM(s) AS tot, COUNT(*) AS n FROM scores GROUP BY j),
bits AS (
  SELECT s.doc_id, s.j,
         CASE WHEN s.s * th.n > th.tot THEN 1L ELSE 0L END AS bit
  FROM scores s JOIN th ON s.j = th.j
)
SELECT doc_id, j DIV 8 AS band,
       SUM(shiftleft(bit, CAST(j % 8 AS INT))) AS sig
FROM bits GROUP BY 1, 2
"""


# Verification computes the sparse dot per candidate pair (one row
# per pair, no explode/re-aggregation shuffle) via map_zip_with: the
# key-union merge is built once per pair in O(|a|+|b|), where the old
# per-entry element_at(mb, ...) rescanned the whole b map per a entry
# — O(|a|x|b|) interpreted ops per pair, measured 2-4x slower at this
# round's candidate volume (1.25M pairs; see OPTIMIZATION_r11.md).
# Missing keys make the product NULL and coalesce to 0; the summed
# term set is identical and integer addition is associative-exact, so
# the result matches the oracle's join-then-SUM form bit-for-bit. The final stage is DataFrame API over the
# persisted stage DataFrames — referencing them through SQL temp
# views defeats nested-cache plan substitution and silently
# recomputes the signature subtree on both sides of the self-join
# (measured: 2s per side at sf0.1).
_EMBCOS_DOT = (
    "aggregate(map_values(map_zip_with(ma, mb, (k, p, q) -> p * q)), 0L, "
    "(acc, v) -> acc + coalesce(v, 0L))"
)


_EMBCOS_DUCK = """
WITH dims AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(tok), 1, 6) AS BIGINT) % 512 AS d,
         COUNT(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok != ''
  GROUP BY 1, 2
),
norms AS (SELECT doc_id, SUM(c * c) AS n2 FROM dims GROUP BY doc_id),
scores AS (
  SELECT doc_id, j,
         SUM(c * (((j * 512 + d) * 2654435761) % 4294967296 - 2147483648)) AS s
  FROM dims, (SELECT unnest(range(0, 64)) AS j)
  GROUP BY doc_id, j
),
th AS (SELECT j, SUM(s) AS tot, COUNT(*) AS n FROM scores GROUP BY j),
bits AS (
  SELECT s.doc_id, s.j,
         CASE WHEN s.s * th.n > th.tot THEN 1 ELSE 0 END AS bit
  FROM scores s JOIN th ON s.j = th.j
),
bands AS (
  SELECT doc_id, j // 8 AS band,
         SUM(bit << (j % 8)) AS sig
  FROM bits GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
dots AS (
  SELECT c.da, c.db, SUM(x.c * y.c) AS dot
  FROM cand c
  JOIN dims x ON x.doc_id = c.da
  JOIN dims y ON y.doc_id = c.db AND y.d = x.d
  GROUP BY c.da, c.db
)
SELECT da AS doc_id_a, db AS doc_id_b,
       CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
FROM dots JOIN norms na ON na.doc_id = da JOIN norms nb ON nb.doc_id = db
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.95
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by embedding cosine >= 0.95 over a hashed
    bag-of-words document embedding, with centered sign-LSH banding as
    the candidate generator (see block comment above)."""
    def build_dims():
        docs = _docs_wide_view(spark, sf_dir, "__docs_ec")
        return spark.sql(_EMBCOS_DIMS_SPARK.format(docs=docs))

    dims = shared(spark, sf_dir, "embcos_dims", build_dims)
    dims.createOrReplaceTempView("__ec_dims")

    def build_bands():
        return spark.sql(_EMBCOS_BANDS_SPARK.format(dims="__ec_dims"))

    bands = shared(spark, sf_dir, "embcos_bands", build_bands)
    bands.createOrReplaceTempView("__ec_bands")

    def build_vecs():
        return spark.sql(
            "SELECT doc_id, map_from_entries(collect_list(struct(d, c))) AS m, "
            "SUM(c * c) AS n2 FROM __ec_dims GROUP BY doc_id"
        )

    vecs = shared(spark, sf_dir, "embcos_vecs", build_vecs)

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    x = vecs.select(
        F.col("doc_id").alias("da"), F.col("m").alias("ma"), F.col("n2").alias("na2")
    )
    y = vecs.select(
        F.col("doc_id").alias("db"), F.col("m").alias("mb"), F.col("n2").alias("nb2")
    )
    cos = F.expr(_EMBCOS_DOT) / (F.sqrt("na2") * F.sqrt("nb2"))
    return (
        cand.join(x, "da")
        .join(y, "db")
        .select(
            F.col("da").alias("doc_id_a"),
            F.col("db").alias("doc_id_b"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= 0.95)
    )


# ---------------------------------------------------------------------------
# Edit distance over near-dup pairs (string-similarity verification)
# ---------------------------------------------------------------------------

def dedup_pair_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.substring(F.col("text"), 1, 60)
    a = docs.select(F.col("doc_id").alias("doc_a"), prefix.alias("pa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), prefix.alias("pb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("pa"), F.col("pb")).cast("bigint").alias("prefix_edit_distance"),
        )
    )


_EDIT_DIST_SQL = """
WITH pairs AS (
  {minhash_pairs}
)
SELECT doc_a, doc_b,
       levenshtein(substring(a.text, 1, 60), substring(b.text, 1, 60)) AS prefix_edit_distance
FROM pairs
JOIN documents a ON a.doc_id = doc_a
JOIN documents b ON b.doc_id = doc_b
"""


def _edit_dist_oracle() -> str:

    return _EDIT_DIST_SQL.format(
        minhash_pairs=_MINHASH_DUCK.format(shingles=_DUCK_SHINGLES)
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration
# ---------------------------------------------------------------------------

# Signature construction: identical constants and algebra to
# textdedup._MINHASH_BANDS_SPARK (k=12 affine permutations over
# GF(2^31-1) of one md5 per shingle) — restated over the persisted
# shingle view so the signatures themselves can persist and feed both
# the band join and the per-pair agreement count.
_SIG_SPARK = f"""
SELECT doc_id, s,
       transform(sequence(0, 11),
                 i -> array_min(transform(h0,
                      h -> (element_at(array({", ".join(map(str, _MH_A))}), CAST(i AS INT) + 1) * h
                            + element_at(array({", ".join(map(str, _MH_B))}), CAST(i AS INT) + 1)) % {_MH_P}))) AS mh
FROM (
  SELECT doc_id, s,
         transform(s, x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT) % {_MH_P}) AS h0
  FROM {{sh}}
)
"""


_CALIB_SPARK = """
WITH bands AS (
  SELECT doc_id, b.band_idx, b.band_key
  FROM (
    SELECT doc_id,
           explode(transform(sequence(0, 3),
               j -> struct(j AS band_idx,
                           md5(concat_ws(',', transform(slice(mh, j * 3 + 1, 3),
                                                        v -> CAST(v AS STRING)))) AS band_key))) AS b
    FROM {sig})
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
), pairs AS (
  SELECT size(filter(sequence(1, 12),
              i -> element_at(sa.mh, CAST(i AS INT))
                   = element_at(sb.mh, CAST(i AS INT)))) AS sig_matches,
         CAST(size(array_intersect(sa.s, sb.s)) AS BIGINT) * 1000000
           DIV (size(sa.s) + size(sb.s)
                - size(array_intersect(sa.s, sb.s))) AS exact_ppm
  FROM cand c
  JOIN {sig} sa ON sa.doc_id = c.doc_a
  JOIN {sig} sb ON sb.doc_id = c.doc_b
)
SELECT CAST(sig_matches AS BIGINT) AS sig_matches,
       CAST(sig_matches * 1000000 DIV 12 AS BIGINT) AS est_jaccard_ppm,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(exact_ppm) DIV COUNT(*) AS BIGINT) AS mean_exact_ppm,
       CAST(MIN(exact_ppm) AS BIGINT) AS min_exact_ppm,
       CAST(MAX(exact_ppm) AS BIGINT) AS max_exact_ppm,
       CAST(sig_matches * 1000000 DIV 12
            - SUM(exact_ppm) DIV COUNT(*) AS BIGINT) AS bias_ppm
FROM pairs
GROUP BY sig_matches
ORDER BY sig_matches
"""


#   * ``dedup_minhash_calibration`` — measure the MinHash estimator
#     against ground truth ON the live pipeline: for every LSH
#     candidate pair, compare the 12-hash signature agreement (the
#     estimate, in twelfths) with the EXACT shingle Jaccard, bucketed
#     by signature match count: pair counts, mean/min/max exact ppm,
#     and the estimator bias per bucket. This is the measurement that
#     justifies (or indicts) the b=4 x r=3 banding choice before
#     running it over 100 TB — approximations in the corpus pipeline
#     ship with their error measured, not assumed.
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-vs-truth calibration of the MinHash signatures over
    the LSH candidate pairs: signature agreement (0-12 of 12) against
    exact shingle Jaccard, aggregated per agreement bucket with the
    bucket's estimator bias. Shingle sets and signatures persist once
    (the shared-cache pattern of ``dedup_minhash_lsh``); candidates
    come from the same banded join — only hashes shuffle, never text.
    All ratios are exact integer ppm."""
    def build():
        sh = _shingle_sets(spark, sf_dir)
        sh.select("doc_id", "s").createOrReplaceTempView("__calib_sh")
        sig = track_persist(spark.sql(_SIG_SPARK.format(sh="__calib_sh")))
        sig.createOrReplaceTempView("__calib_sig")
        return spark.sql(_CALIB_SPARK.format(sig="__calib_sig"))

    return shared(spark, sf_dir, "minhash_calibration", build)


_CALIB_DUCK = f"""
WITH sh AS ({_DUCK_SHINGLES}),
hashed AS (
  SELECT doc_id, s,
         list_transform(s, x -> CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT) % {_MH_P}) AS h0
  FROM sh
),
sig AS (
  SELECT doc_id, s,
         list_transform(range(0, 12),
                        i -> list_min(list_transform(h0,
                             h -> (([{", ".join(map(str, _MH_A))}])[i + 1] * h
                                   + ([{", ".join(map(str, _MH_B))}])[i + 1]) % {_MH_P}))) AS mh
  FROM hashed
),
bands AS (
  SELECT doc_id, j AS band_idx,
         md5(concat_ws(',', CAST(mh[j * 3 + 1] AS VARCHAR), CAST(mh[j * 3 + 2] AS VARCHAR),
                            CAST(mh[j * 3 + 3] AS VARCHAR))) AS band_key
  FROM sig, range(0, 4) r(j)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT len(list_filter(range(1, 13), i -> sa.mh[i] = sb.mh[i])) AS sig_matches,
         CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) * 1000000
           // (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS exact_ppm
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT CAST(sig_matches AS BIGINT) AS sig_matches,
       CAST(sig_matches * 1000000 // 12 AS BIGINT) AS est_jaccard_ppm,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(exact_ppm) // COUNT(*) AS BIGINT) AS mean_exact_ppm,
       CAST(MIN(exact_ppm) AS BIGINT) AS min_exact_ppm,
       CAST(MAX(exact_ppm) AS BIGINT) AS max_exact_ppm,
       CAST(sig_matches * 1000000 // 12
            - SUM(exact_ppm) // COUNT(*) AS BIGINT) AS bias_ppm
FROM pairs
GROUP BY sig_matches
ORDER BY sig_matches
"""


QUERIES = {
    "dedup_pair_edit_distance": dedup_pair_edit_distance,
    "dedup_exact": dedup_exact,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_incremental": dedup_incremental,
    "dedup_clusters": dedup_clusters,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_minhash_calibration": dedup_minhash_calibration,
}

ORACLE = {
    "dedup_pair_edit_distance": _edit_dist_oracle(),
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_embedding_cosine": _EMBCOS_DUCK,
    "dedup_incremental": _DEDUP_INCR_SQL,
    "dedup_clusters": _DEDUP_CLUSTERS_SQL.format(
        minhash_pairs=_MINHASH_DUCK.format(shingles=_DUCK_SHINGLES)
    ),
    "dedup_minhash_lsh": _MINHASH_DUCK.format(shingles=_DUCK_SHINGLES),
    "dedup_ngram_jaccard": _NGRAM_DUCK.format(shingles=_DUCK_SHINGLES),
    "dedup_simhash": _SIMHASH_DUCK,
    "dedup_minhash_calibration": _CALIB_DUCK,
}
