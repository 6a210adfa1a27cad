"""Similarity search over the ``embeddings`` table: exact and
approximate top-k, quantization, diversity and recall evaluation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import shared, track_persist
from ..sources.readers import load_table
from .contract import EMB_VALID_SPARK


# ---------------------------------------------------------------------------
# Int8 scalar quantization of embeddings + reconstruction error
# ---------------------------------------------------------------------------

_QUANT_SPARK = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM {emb}
  WHERE embedding IS NOT NULL
    AND NOT exists(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)
),
q AS (
  SELECT vec_id, label, v,
         aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x))) / 127.0 AS scale
  FROM e
),
r AS (
  SELECT vec_id, label, scale,
         aggregate(zip_with(v, transform(v, x -> round(x / scale) * scale),
                            (a, b) -> (a - b) * (a - b)),
                   CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS sq_err,
         aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x) AS sq_norm
  FROM q
)
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(SUM(CAST(ROUND(sqrt(sq_err / sq_norm) * 1000000) AS BIGINT)) AS DOUBLE)
         / (COUNT(*) * 1000000.0) AS avg_rel_error,
       MAX(sqrt(sq_err / sq_norm)) AS max_rel_error
FROM r
GROUP BY label
"""


_QUANT_DUCK = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
),
q AS (
  SELECT vec_id, label, v,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), v),
                     (acc, x) -> greatest(acc, abs(x))) / 127.0 AS scale
  FROM e
),
r AS (
  SELECT vec_id, label, scale,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, len(v) + 1),
                 i -> (v[i] - round(v[i] / scale) * scale) * (v[i] - round(v[i] / scale) * scale))),
             (acc, x) -> acc + x) AS sq_err,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, x -> x * x)),
                     (acc, x) -> acc + x) AS sq_norm
  FROM q
)
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(SUM(CAST(ROUND(sqrt(sq_err / sq_norm) * 1000000) AS BIGINT)) AS DOUBLE)
         / (COUNT(*) * 1000000.0) AS avg_rel_error,
       MAX(sqrt(sq_err / sq_norm)) AS max_rel_error
FROM r
GROUP BY label
"""


def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("__emb_q8")
    return spark.sql(_QUANT_SPARK.format(emb="__emb_q8"))


def _emb_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(name)
    return name


# Spark + DuckDB fragments for vectors with norms attached. A NULL
# array or a NULL element has no geometry, and each engine invents its
# own arithmetic for one (DuckDB's list_prepend turns a NULL list into
# [0.0]; Spark's aggregate yields NULL) — both are excluded up front,
# identically in both fragments.
_SPARK_VECS = """
  SELECT vec_id, label, v,
         aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x) AS n2
  FROM (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM {emb}
        WHERE embedding IS NOT NULL
          AND NOT exists(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6))
"""


_DUCK_VECS = """
  SELECT vec_id, label, v,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, x -> x * x)),
                     (acc, x) -> acc + x) AS n2
  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0)
"""


_SPARK_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"


_DUCK_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
)


def _vecs_view(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared parsed-vector relation (vec_id, label, v, n2):
    every similarity query re-ran the embedding array cast + norm
    fold per invocation (and the CTE form re-ran it per REFERENCE —
    Spark inlines CTEs); one persisted copy serves the whole family
    (round 11, guide §2.4/§5 — the copurchase_pairs discipline). Each
    row's values are per-row deterministic expressions, so the cached
    relation is value-identical to the inline subquery it replaces.
    First consumer pays the build inside its own timed region; keyed
    by applicationId, rebuilt from parquet every run."""
    def build():
        emb = _emb_view(spark, sf_dir, "__emb_shared")
        return spark.sql(_SPARK_VECS.format(emb=emb))

    shared(spark, sf_dir, "sim_vecs", build).createOrReplaceTempView(
        "__sim_vecs_shared"
    )
    return "__sim_vecs_shared"


_IVF_LABELED_SPARK = """
WITH n AS (SELECT * FROM {vecs}),
cent AS (SELECT vec_id AS cent_id, v AS cv, n2 AS cn2 FROM n WHERE vec_id % 100 = 0),
assign AS (
  SELECT vec_id, cent_id AS cluster_id
  FROM (
    SELECT /*+ BROADCAST(cent) */
           n.vec_id, cent.cent_id,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY {cosc} DESC,
                      cent.cent_id
           ) AS rk
    FROM n CROSS JOIN cent
  ) WHERE rk = 1
)
SELECT n.*, a.cluster_id FROM n JOIN assign a ON n.vec_id = a.vec_id
"""


def _labeled_view(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared IVF cluster assignment (the n-by-centroid
    cross-join + argmax): consumed by ``sim_ivf_topk`` AND
    ``sim_ivf_recall_eval`` (which referenced it twice more through
    its q/ivf arms). Same caching/value-identity argument as
    ``_vecs_view``; the assignment ROW_NUMBER is fully deterministic
    (cosine DESC, cent_id tie-break)."""
    def build():
        vecs = _vecs_view(spark, sf_dir)
        cosc = (
            _SPARK_DOT.format(a="n.v", b="cent.cv")
            + " / (sqrt(n.n2) * sqrt(cent.cn2))"
        )
        return spark.sql(_IVF_LABELED_SPARK.format(vecs=vecs, cosc=cosc))

    shared(spark, sf_dir, "ivf_labeled", build).createOrReplaceTempView(
        "__sim_labeled_shared"
    )
    return "__sim_labeled_shared"


# ---------------------------------------------------------------------------
# Brute-force cosine top-k
# ---------------------------------------------------------------------------

_BRUTE_SPARK = f"""
WITH n AS (SELECT * FROM {{vecs}}),
q AS (SELECT * FROM n WHERE vec_id < 8),
p AS (
  SELECT /*+ BROADCAST(q) */
         q.vec_id AS q_vec_id, n.vec_id AS n_vec_id, n.label AS n_label,
         {_SPARK_DOT.format(a='q.v', b='n.v')} / (sqrt(q.n2) * sqrt(n.n2)) AS cos
  FROM q JOIN n ON q.vec_id != n.vec_id
)
SELECT q_vec_id, n_vec_id, n_label, cos, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id) AS rk FROM p)
WHERE rk <= 10
"""


_BRUTE_DUCK = f"""
WITH n AS ({_DUCK_VECS}),
q AS (SELECT * FROM n WHERE vec_id < 8),
p AS (
  SELECT q.vec_id AS q_vec_id, n.vec_id AS n_vec_id, n.label AS n_label,
         {_DUCK_DOT.format(a='q.v', b='n.v')} / (sqrt(q.n2) * sqrt(n.n2)) AS cos
  FROM q JOIN n ON q.vec_id != n.vec_id
)
SELECT q_vec_id, n_vec_id, n_label, cos, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id) AS rk FROM p)
WHERE rk <= 10
"""


#   * ``sim_bruteforce_topk`` — exact cosine top-k for a small query
#     set: broadcast the queries, nested-loop against all vectors,
#     rank per query. At cluster scale this is the "small query batch ×
#     huge corpus" shape: the corpus stays partitioned, queries ship to
#     it, and the top-k is a per-partition heap + tiny final merge
#     (window over q_vec_id).
#
# Numeric determinism: dot products and norms are explicit sequential
# folds (``aggregate`` in Spark, ``list_reduce`` in DuckDB) over
# float→double-widened values, so cosines are bit-identical in both
# engines and at any parallelism.
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_BRUTE_SPARK.format(vecs=_vecs_view(spark, sf_dir)))


# ---------------------------------------------------------------------------
# IVF-style clustered ANN: assign to nearest centroid, search own cluster
# ---------------------------------------------------------------------------

_IVF_SPARK = f"""
WITH labeled AS (SELECT * FROM {{labeled}}),
q AS (SELECT * FROM labeled WHERE vec_id IN (3, 77, 154, 231, 308)),
p AS (
  SELECT /*+ BROADCAST(q) */
         q.vec_id AS q_vec_id, q.cluster_id, c.vec_id AS n_vec_id,
         {_SPARK_DOT.format(a='q.v', b='c.v')} / (sqrt(q.n2) * sqrt(c.n2)) AS cos
  FROM q JOIN labeled c
    ON q.cluster_id = c.cluster_id AND q.vec_id != c.vec_id
)
SELECT q_vec_id, cluster_id, n_vec_id, cos, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id) AS rk FROM p)
WHERE rk <= 5
"""


_IVF_DUCK = f"""
WITH n AS ({_DUCK_VECS}),
cent AS (SELECT vec_id AS cent_id, v AS cv, n2 AS cn2 FROM n WHERE vec_id % 100 = 0),
assign AS (
  SELECT vec_id, cent_id AS cluster_id
  FROM (
    SELECT n.vec_id, cent.cent_id,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY {_DUCK_DOT.format(a='n.v', b='cent.cv')} / (sqrt(n.n2) * sqrt(cent.cn2)) DESC,
                      cent.cent_id
           ) AS rk
    FROM n CROSS JOIN cent
  ) WHERE rk = 1
),
labeled AS (
  SELECT n.*, a.cluster_id FROM n JOIN assign a ON n.vec_id = a.vec_id
),
q AS (SELECT * FROM labeled WHERE vec_id IN (3, 77, 154, 231, 308)),
p AS (
  SELECT q.vec_id AS q_vec_id, q.cluster_id, c.vec_id AS n_vec_id,
         {_DUCK_DOT.format(a='q.v', b='c.v')} / (sqrt(q.n2) * sqrt(c.n2)) AS cos
  FROM q JOIN labeled c
    ON q.cluster_id = c.cluster_id AND q.vec_id != c.vec_id
)
SELECT q_vec_id, cluster_id, n_vec_id, cos, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id) AS rk FROM p)
WHERE rk <= 5
"""


#   * ``sim_ivf_topk`` — IVF-style scale path: pick deterministic
#     centroids, assign every vector to its nearest centroid (broadcast
#     NLJ over a handful of centroids), then answer queries only within
#     their own cluster — the 100 TB pattern where the corpus is
#     pre-partitioned by cluster id and a query touches one partition.
#     (Centroid selection is pluggable; here a modulo sample keeps the
#     operator deterministic and oracle-checkable.)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _IVF_SPARK.format(labeled=_labeled_view(spark, sf_dir))
    )


# ---------------------------------------------------------------------------
# Array-function statistics per label (norms via scaled-integer sums)
# ---------------------------------------------------------------------------

_NORMSTATS_SPARK = f"""
WITH n AS (SELECT * FROM {{vecs}})
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(MAX(size(v)) AS BIGINT) AS n_dims,
       CAST(SUM(CAST(ROUND(sqrt(n2) * 1000000) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1000000.0) AS avg_norm,
       MIN(sqrt(n2)) AS min_norm,
       MAX(sqrt(n2)) AS max_norm
FROM n
GROUP BY label
"""


_NORMSTATS_DUCK = f"""
WITH n AS ({_DUCK_VECS})
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(MAX(len(v)) AS BIGINT) AS n_dims,
       CAST(SUM(CAST(ROUND(sqrt(n2) * 1000000) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1000000.0) AS avg_norm,
       MIN(sqrt(n2)) AS min_norm,
       MAX(sqrt(n2)) AS max_norm
FROM n
GROUP BY label
"""


def sim_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _NORMSTATS_SPARK.format(vecs=_vecs_view(spark, sf_dir))
    )


# ---------------------------------------------------------------------------
# Random-projection (sign) LSH bucketing: 8 deterministic hyperplanes
# ---------------------------------------------------------------------------
# Hyperplane j, dim d: Knuth-hash of (j*64+d) mapped to [-0.5, 0.5).
# Pure arithmetic, so both engines derive identical planes — no stored
# projection matrix needed. At scale the bucket id becomes the shuffle/
# storage partitioning key and candidate search stays intra-bucket.

_RP_H = "(CAST((({j} * 64 + {d}) * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 - 0.5)"


_RP_SPARK = f"""
WITH n AS (SELECT * FROM {{vecs}}),
b AS (
  SELECT vec_id, label,
         concat_ws('', transform(sequence(0, 7),
           j -> CASE WHEN aggregate(
                  transform(sequence(0, 63),
                    d -> element_at(v, d + 1) * {_RP_H.format(j='j', d='d')}),
                  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) > 0
                THEN '1' ELSE '0' END)) AS bucket
  FROM n
)
SELECT bucket,
       COUNT(*) AS n_vectors,
       COUNT(DISTINCT label) AS n_labels
FROM b
GROUP BY bucket
"""


_RP_DUCK = f"""
WITH n AS ({_DUCK_VECS}),
b AS (
  SELECT vec_id, label,
         list_aggregate(list_transform(range(0, 8),
           j -> CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(range(0, 64),
                    d -> v[d + 1] * {_RP_H.format(j='j', d='d')})),
                  (acc, x) -> acc + x) > 0
                THEN '1' ELSE '0' END), 'string_agg', '') AS bucket
  FROM n
)
SELECT bucket,
       COUNT(*) AS n_vectors,
       COUNT(DISTINCT label) AS n_labels
FROM b
GROUP BY bucket
"""


def sim_rp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_RP_SPARK.format(vecs=_vecs_view(spark, sf_dir)))


# ---------------------------------------------------------------------------
# Blocked-matmul brute-force ANN (int64-exact scores)
# ---------------------------------------------------------------------------

_MM_TOPK = 3


_MM_NQ = 5


_MM_SCALE = 1_000_000


#   * blocked-matmul brute-force ANN (mapInPandas + one int64 numpy
#     matmul per Arrow batch — the BLAS-shaped scale path for exact
#     top-k, vs. the per-row HOF arithmetic of ``sim_bruteforce_topk``).
def sim_blocked_matmul_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k inner-product search as ONE numpy int64 matmul per
    Arrow batch (mapInPandas): candidates stream through executors in
    blocks, each block computes scores against the broadcast query
    block and emits only its block-local top-k — the classic
    map-side-top-k + global-top-k reduction, with per-row work done by
    BLAS instead of per-element SQL arithmetic. Vectors are scaled to
    int64 fixed-point (floor(x*1e6+0.5) per element) so the dot
    products are exact integers: identical under any blocking, any
    partitioning, and in the SQL oracle. Top-k under the total order
    (score DESC, cand_id ASC) is distributive, so block-local top-k is
    a lossless partial. The query block here is collect()ed (bounded:
    _MM_NQ rows) and closure-shipped; a large query set would be a
    broadcast join against LSH buckets instead (sim_rp_lsh_buckets)."""
    import numpy as np

    # np.stack needs rectangular input: a NULL/ragged/empty array or a
    # NULL element has no geometry and is dropped, symmetrically with
    # the oracle (contract.EMB_VALID_*, incl. size(embedding) = dims).
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.expr(EMB_VALID_SPARK))
        .select("vec_id", "embedding")
    )
    q_rows = (
        emb.where(F.col("vec_id") < _MM_NQ)
        .orderBy("vec_id")
        .collect()
    )
    if not q_rows:  # empty input: no queries, empty result
        return spark.createDataFrame(
            [], "q_id bigint, cand_id bigint, score_units bigint, rank int"
        )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.floor(
        np.array([r["embedding"] for r in q_rows], dtype=np.float64) * _MM_SCALE
        + 0.5
    ).astype(np.int64)

    def block_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cand_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * _MM_SCALE
                + 0.5
            ).astype(np.int64)
            scores = mat @ q_mat.T  # (block, nq) exact int64
            for qi, q_id in enumerate(q_ids):
                col = scores[:, qi]
                mask = cand_ids != q_id
                ids, sc = cand_ids[mask], col[mask]
                order = np.lexsort((ids, -sc))[:_MM_TOPK]
                yield pd.DataFrame(
                    {
                        "q_id": q_id,
                        "cand_id": ids[order],
                        "score_units": sc[order],
                    }
                )

    partials = emb.mapInPandas(
        block_topk, "q_id bigint, cand_id bigint, score_units bigint"
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score_units").desc(), F.col("cand_id")
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _MM_TOPK)
        .select("q_id", "cand_id", "score_units", "rank")
    )


_MM_SQL = f"""
WITH s AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_MM_SCALE} + 0.5) AS BIGINT)) AS iv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
), q AS (
  SELECT * FROM s WHERE vec_id < {_MM_NQ}
), p AS (
  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         CAST(list_dot_product(q.iv, c.iv) AS BIGINT) AS score_units
  FROM q CROSS JOIN s c
  WHERE c.vec_id <> q.vec_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY score_units DESC, cand_id) AS rn
  FROM p
)
SELECT q_id, cand_id, score_units, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= {_MM_TOPK}
"""


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

_PQ_SPARK = """
WITH q AS (
  SELECT vec_id,
         transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM {emb}
  WHERE embedding IS NOT NULL AND size(embedding) = 64
    AND NOT exists(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)
), e AS (
  SELECT vec_id, CAST(pos DIV 8 AS BIGINT) AS sub, pos, val
  FROM (SELECT vec_id, posexplode(qv) AS (pos, val) FROM q)
), cb AS (
  SELECT vec_id AS code, sub, pos, val AS cval FROM e WHERE vec_id < 4
), d AS (
  SELECT /*+ BROADCAST(cb) */ e.vec_id, e.sub, cb.code,
         SUM((e.val - cb.cval) * (e.val - cb.cval)) AS dist
  FROM e JOIN cb ON e.pos = cb.pos AND e.sub = cb.sub
  GROUP BY e.vec_id, e.sub, cb.code
), assigned AS (
  SELECT vec_id, sub, code, dist FROM (
    SELECT vec_id, sub, code, dist,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY dist, code) AS rk
    FROM d
  ) WHERE rk = 1
)
SELECT sub AS subspace, code,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(dist) AS BIGINT) AS distortion
FROM assigned GROUP BY sub, code
"""


_PQ_DUCK = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
           AS qv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
), e AS (
  SELECT vec_id, CAST((i - 1) // 8 AS BIGINT) AS sub, i AS pos,
         CAST(qv[i] AS BIGINT) AS val
  FROM q, (SELECT unnest(range(1, 65)) AS i)
), cb AS (
  SELECT vec_id AS code, sub, pos, val AS cval FROM e WHERE vec_id < 4
), d AS (
  SELECT e.vec_id, e.sub, cb.code,
         CAST(SUM((e.val - cb.cval) * (e.val - cb.cval)) AS BIGINT) AS dist
  FROM e JOIN cb ON e.pos = cb.pos AND e.sub = cb.sub
  GROUP BY e.vec_id, e.sub, cb.code
), assigned AS (
  SELECT vec_id, sub, code, dist FROM (
    SELECT vec_id, sub, code, dist,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY dist, code) AS rk
    FROM d
  ) t WHERE rk = 1
)
SELECT sub AS subspace, code,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(dist) AS BIGINT) AS distortion
FROM assigned GROUP BY sub, code
"""


#   * ``sim_product_quantize`` — product quantization: the embedding
#     splits into 8 subspaces of 8 dims; each subspace quantizes
#     against its own k=4 codebook (deterministic seed vectors);
#     reported per-(subspace, code) population and integer distortion.
#     PQ is the memory layout behind billion-vector ANN (8 bytes/vector
#     here vs 256); all math integer-quantized, so assignments are
#     engine-exact.
def sim_product_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantize every embedding: 8 subspaces × 8 dims, k=4
    codes per subspace (codebook = the 4 lowest vec_ids — pluggable,
    deterministic, oracle-checkable). Output: per-(subspace, code)
    population and total integer distortion. The codebook is k×d rows
    broadcast; the corpus is touched once."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("__emb_pq")
    return spark.sql(_PQ_SPARK.format(emb="__emb_pq"))


# ---------------------------------------------------------------------------
# Batch diversity (pairwise cosine over a deterministic sample)
# ---------------------------------------------------------------------------

_DIV_K = 32


_DIV_SPARK = f"""
WITH q AS (
  SELECT vec_id,
         transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v,
         md5(CAST(vec_id AS STRING)) AS hk
  FROM {{emb}}
  WHERE embedding IS NOT NULL
    AND NOT exists(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)
), samp AS (
  SELECT vec_id, v FROM q ORDER BY hk, vec_id LIMIT {_DIV_K}
), pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, a.v AS va, b.v AS vb
  FROM samp a JOIN samp b ON a.vec_id < b.vec_id
), d AS (
  SELECT ia, ib,
         aggregate(zip_with(va, vb, (x, y) -> x * y),
                   CAST(0 AS BIGINT), (acc, x) -> acc + x) AS dot,
         aggregate(zip_with(va, va, (x, y) -> x * y),
                   CAST(0 AS BIGINT), (acc, x) -> acc + x) AS na,
         aggregate(zip_with(vb, vb, (x, y) -> x * y),
                   CAST(0 AS BIGINT), (acc, x) -> acc + x) AS nb
  FROM pairs
), cosd AS (
  SELECT CAST(floor(CAST(dot AS DOUBLE)
                    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                    * 1e6) AS BIGINT) AS cos_micro
  FROM d WHERE na > 0 AND nb > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(cos_micro) AS BIGINT) AS sum_cos_micro,
       CAST(MIN(cos_micro) AS BIGINT) AS min_cos_micro,
       CAST(MAX(cos_micro) AS BIGINT) AS max_cos_micro
FROM cosd
"""


_DIV_DUCK = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
           AS v,
         md5(CAST(vec_id AS VARCHAR)) AS hk
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
), samp AS (
  SELECT vec_id, v FROM q ORDER BY hk, vec_id LIMIT {_DIV_K}
), pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, a.v AS va, b.v AS vb
  FROM samp a JOIN samp b ON a.vec_id < b.vec_id
), z AS (
  SELECT ia, ib, unnest(va) AS x, unnest(vb) AS y FROM pairs
), d AS (
  SELECT ia, ib, SUM(x * y) AS dot, SUM(x * x) AS na, SUM(y * y) AS nb
  FROM z GROUP BY ia, ib
), cosd AS (
  SELECT CAST(floor(CAST(dot AS DOUBLE)
                    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                    * 1e6) AS BIGINT) AS cos_micro
  FROM d WHERE na > 0 AND nb > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(cos_micro) AS BIGINT) AS sum_cos_micro,
       CAST(MIN(cos_micro) AS BIGINT) AS min_cos_micro,
       CAST(MAX(cos_micro) AS BIGINT) AS max_cos_micro
FROM cosd
"""


#   * ``sim_batch_diversity`` — mean/min/max pairwise cosine over a
#     deterministic 32-vector sample (md5-ordered, so every engine and
#     every run picks the same sample): the batch-diversity probe used
#     to detect mode collapse in retrieval batches. The sample rides
#     TakeOrderedAndProject; the 496 pairs stay integer until the final
#     per-pair cosine, floored to micro units before aggregation.
def sim_batch_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine diversity of a deterministic 32-vector sample:
    md5-ordered top-k (TakeOrderedAndProject — no full sort, and the
    same sample on any engine), all 496 pairs' dot products and norms
    as exact integer HOF folds, each cosine floored to micro units
    before the summary aggregate. At fleet scale the sample size, not
    the corpus, bounds the pairwise work."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "r21_div_emb"
    )
    return spark.sql(_DIV_SPARK.format(emb="r21_div_emb"))


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance (unrolled greedy)
# ---------------------------------------------------------------------------

_MMR_Q = 3          # query vector


_MMR_CANDS = 16     # relevance-ranked candidate pool


_MMR_K = 5          # picks


_MMR_LAMBDA = "0.5"


def _mmr_cands_sql(vecs: str, dot: str) -> str:
    """Candidate pool: top-{_MMR_CANDS} by cosine relevance to the
    query vector, vectors and norms carried along so the pair stage
    never rejoins the corpus."""
    d_qc = dot.format(a="q.v", b="n.v")
    return f"""
WITH n0 AS ({vecs}),
q AS (SELECT * FROM n0 WHERE vec_id = {_MMR_Q}),
rel AS (
  SELECT n.vec_id, n.label, n.v, n.n2,
         {d_qc} / (sqrt(q.n2) * sqrt(n.n2)) AS rel
  FROM q JOIN n0 n ON n.vec_id != q.vec_id
)
SELECT vec_id, label, v, n2, rel FROM (
  SELECT *, row_number() OVER (ORDER BY rel DESC, vec_id) AS rk FROM rel
) r WHERE rk <= {_MMR_CANDS}
"""


def _mmr_pair_sql(dot: str, cands: str) -> str:
    d_ab = dot.format(a="a.v", b="b.v")
    return f"""
SELECT a.vec_id AS ia, b.vec_id AS ib, a.rel AS rel_a,
       {d_ab} / (sqrt(a.n2) * sqrt(b.n2)) AS cos
FROM {cands} a JOIN {cands} b ON a.vec_id != b.vec_id
"""


def _mmr_greedy_sql(cands: str, pair: str) -> str:
    """The K unrolled greedy steps + final projection — byte-identical
    SQL in Spark and DuckDB; only the two relation names differ
    (persisted temp views in Spark, CTEs in the oracle)."""
    steps = []
    for k in range(2, _MMR_K + 1):
        prev = f"sel{k - 1}"
        steps.append(f"""s{k} AS (
  SELECT vec_id FROM (
    SELECT p.ia AS vec_id,
           MAX(p.rel_a) * {_MMR_LAMBDA}
             - {_MMR_LAMBDA} * MAX(p.cos) AS mmr
    FROM {pair} p JOIN {prev} s ON p.ib = s.vec_id
    WHERE p.ia NOT IN (SELECT vec_id FROM {prev})
    GROUP BY p.ia
  ) ranked ORDER BY mmr DESC, vec_id LIMIT 1
), sel{k} AS (
  SELECT vec_id FROM {prev} UNION ALL SELECT vec_id FROM s{k}
)""")
    picks = "\nUNION ALL ".join(
        f"SELECT {k} AS pick_order, vec_id FROM s{k}"
        for k in range(1, _MMR_K + 1)
    )
    return f"""s1 AS (
  SELECT vec_id FROM {cands} ORDER BY rel DESC, vec_id LIMIT 1
), sel1 AS (
  SELECT vec_id FROM s1
),
{",".join(steps)},
picks AS (
{picks}
)
SELECT CAST(p.pick_order AS BIGINT) AS pick_order,
       p.vec_id, c.label, c.rel AS rel_cos
FROM picks p JOIN {cands} c ON c.vec_id = p.vec_id
ORDER BY pick_order
"""


#   * ``sim_mmr_diverse_topk`` — Maximal Marginal Relevance selection:
#     greedily pick 5 of the top-16 candidates maximizing
#     ``0.5 * relevance - 0.5 * max-similarity-to-already-picked`` —
#     THE diverse-retrieval shape for training-data selection (don't
#     fill the context with five near-copies of the best hit). The
#     greedy recurrence is unrolled into five CTE steps (generated by
#     one Python loop, byte-identical SQL on both engines): each step
#     is an aggregate + top-1 over the tiny candidate-pair relation, so
#     the corpus-scale work remains the candidate generation — scoring
#     never leaves the 16x16 pair table.
def sim_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse top-{K}: relevance-rank the candidate pool (the
    brute-force broadcast shape -- at scale this stage is any ANN
    operator here), then K greedy steps over the CxC pair relation,
    each a deterministic argmax (ties break on vec_id). Cosines are
    sequential folds, so both engines pick identical sets. The greedy
    recurrence is INHERENTLY sequential with K scalars of state and a
    CxC = 240-row similarity matrix -- both constants by
    construction -- so they live on the driver: ONE bounded collect
    of the pair relation, pure-Python greedy, result re-joined to the
    persisted candidate pool. Relational encodings were measured and
    rejected: a pure-SQL CTE unroll inlines the corpus subtree
    exponentially (1024 symbolic scans, 8.4s at sf0.1 -- Spark's
    cache matcher does not substitute through temp views), a
    self-referencing DataFrame union chain re-plans ~2^K tiny
    subtrees (6.1s), and per-step 1-row jobs pay ~0.8s scheduler
    overhead each; the collected form runs the corpus pass once plus
    one 240-row job."""
    from pyspark.sql import functions as F

    # round 11: the corpus parse comes from the session-shared vector
    # relation (similarity._vecs_view) instead of re-deriving it here

    vecs = _vecs_view(spark, sf_dir)
    cands = track_persist(
        spark.sql(
            _mmr_cands_sql(f"SELECT * FROM {vecs}", _SPARK_DOT)
        )
    )
    # pair composes over the cands DATAFRAME (not a view of it):
    # Spark's cache manager substitutes the persisted relation only on
    # plan identity, so both join sides read the one materialization.
    cand_rows = cands.select(
        "vec_id", "rel"
    ).collect()  # bounded: C = 16 rows by construction
    rel = {int(r.vec_id): float(r.rel) for r in cand_rows}
    a = cands.select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va"),
        F.col("n2").alias("n2a"),
    )
    b = cands.select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb"),
        F.col("n2").alias("n2b"),
    )
    pair_rows = (
        a.join(b, F.col("ia") != F.col("ib"))
        .select(
            "ia", "ib",
            (
                F.expr(_SPARK_DOT.format(a="va", b="vb"))
                / (F.sqrt("n2a") * F.sqrt("n2b"))
            ).alias("cos"),
        )
        .collect()  # bounded: C*(C-1) = 240 rows by construction
    )
    cos = {
        (int(r.ia), int(r.ib)): float(r.cos) for r in pair_rows
    }
    lam = float(_MMR_LAMBDA)
    selected = []
    if rel:  # empty corpus (or query-only) => no picks, empty result
        selected.append(min(rel, key=lambda d: (-rel[d], d)))
    while len(selected) < min(_MMR_K, len(rel)):
        rest = [d for d in rel if d not in selected]
        selected.append(min(
            rest,
            key=lambda d: (
                -(lam * rel[d] - lam * max(cos[(d, s)] for s in selected)),
                d,
            ),
        ))
    picks = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(selected)],
        "pick_order bigint, vec_id bigint",
    )
    return (
        picks.join(cands, "vec_id")
        .select(
            "pick_order", "vec_id", "label", F.col("rel").alias("rel_cos"),
        )
        .orderBy("pick_order")
    )


_MMR_DUCK = f"""
WITH cands AS ({_mmr_cands_sql(_DUCK_VECS, _DUCK_DOT)}),
pair AS ({_mmr_pair_sql(_DUCK_DOT, "cands")}),
{_mmr_greedy_sql("cands", "pair")}
"""


_RECALL_K = 5


_PROBES = "(3, 77, 154, 231, 308)"  # the sim_ivf_topk probe set


def _recall_sql(vecs: str, dot: str, broadcast: str) -> str:
    cosq = dot.format(a="q.v", b="c.v") + " / (sqrt(q.n2) * sqrt(c.n2))"
    cosc = (
        dot.format(a="n.v", b="cent.cv") + " / (sqrt(n.n2) * sqrt(cent.cn2))"
    )
    return f"""
WITH n AS ({vecs}),
cent AS (SELECT vec_id AS cent_id, v AS cv, n2 AS cn2 FROM n
         WHERE vec_id % 100 = 0),
assign AS (
  SELECT vec_id, cent_id AS cluster_id
  FROM (
    SELECT {broadcast}
           n.vec_id, cent.cent_id,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY {cosc} DESC, cent.cent_id
           ) AS rk
    FROM n CROSS JOIN cent
  ) WHERE rk = 1
),
labeled AS (
  SELECT n.*, a.cluster_id FROM n JOIN assign a ON n.vec_id = a.vec_id
),
q AS (SELECT * FROM labeled WHERE vec_id IN {_PROBES}),
ivf AS (
  SELECT q_vec_id, n_vec_id FROM (
    SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {cosq} DESC, c.vec_id) AS rk
    FROM q JOIN labeled c
      ON q.cluster_id = c.cluster_id AND q.vec_id != c.vec_id
  ) WHERE rk <= {_RECALL_K}
),
exact AS (
  SELECT q_vec_id, n_vec_id FROM (
    SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {cosq} DESC, c.vec_id) AS rk
    FROM q JOIN n c ON q.vec_id != c.vec_id
  ) WHERE rk <= {_RECALL_K}
)
SELECT e.q_vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN i.n_vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN i.n_vec_id IS NOT NULL THEN 1 ELSE 0 END)
            * 1000000 {{idiv}} COUNT(*) AS BIGINT) AS recall_ppm
FROM exact e
LEFT JOIN ivf i
  ON i.q_vec_id = e.q_vec_id AND i.n_vec_id = e.n_vec_id
GROUP BY e.q_vec_id
ORDER BY e.q_vec_id
"""


_RECALL_SPARK = f"""
WITH labeled AS (SELECT * FROM {{labeled}}),
q AS (SELECT * FROM labeled WHERE vec_id IN {_PROBES}),
ivf AS (
  SELECT q_vec_id, n_vec_id FROM (
    SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {{cosq}} DESC, c.vec_id) AS rk
    FROM q JOIN labeled c
      ON q.cluster_id = c.cluster_id AND q.vec_id != c.vec_id
  ) WHERE rk <= {_RECALL_K}
),
exact AS (
  SELECT q_vec_id, n_vec_id FROM (
    SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {{cosq}} DESC, c.vec_id) AS rk
    FROM q JOIN (SELECT * FROM {{vecs}}) c ON q.vec_id != c.vec_id
  ) WHERE rk <= {_RECALL_K}
)
SELECT e.q_vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN i.n_vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN i.n_vec_id IS NOT NULL THEN 1 ELSE 0 END)
            * 1000000 DIV COUNT(*) AS BIGINT) AS recall_ppm
FROM exact e
LEFT JOIN ivf i
  ON i.q_vec_id = e.q_vec_id AND i.n_vec_id = e.n_vec_id
GROUP BY e.q_vec_id
ORDER BY e.q_vec_id
"""


# ``sim_ivf_recall_eval`` — recall@5 of the IVF own-cluster search
# against exact brute force, computed IN the engine for the same five
# probe vectors `plans/similarity.py::sim_ivf_topk` uses. Both
# retrieval paths run in one plan (probe rows are broadcast; the exact
# arm is probe x corpus, the IVF arm probe x own-cluster) and the
# overlap join ships only (query, neighbor) id pairs. This is the
# eval loop an embedding-dedup/retrieval pipeline runs after every
# index rebuild: the ANN index is only as good as its measured recall,
# and measuring it costs one extra brute-force pass over the PROBES
# (not the corpus), which is exactly how it stays cheap at 100 TB —
# probe count is fixed, corpus size only enters through the two
# retrieval arms the pipeline already runs.
def sim_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of IVF own-cluster retrieval vs exact brute force for
    the five standard probes (see module docstring). The cosine
    expressions are textually identical to ``sim_ivf_topk`` /
    ``sim_bruteforce_topk`` (whose doubles already hash-match the
    oracle), so the ranking — and therefore the recall — is
    engine-exact; the output itself is pure integers.

    Round 11 (guide §2.4): consumes the session-shared parsed-vector
    and IVF-assignment relations (``similarity._vecs_view`` /
    ``_labeled_view``) instead of re-deriving both inline — the CTE
    form recomputed the embedding parse ~5x and the n-by-centroid
    assignment twice per call (Spark inlines CTE references). Same
    per-row-deterministic expressions, so values are identical; the
    DuckDB oracle still spells out the full derivation."""
    labeled = _labeled_view(spark, sf_dir)
    vecs = _vecs_view(spark, sf_dir)
    cosq = (
        _SPARK_DOT.format(a="q.v", b="c.v") + " / (sqrt(q.n2) * sqrt(c.n2))"
    )
    return spark.sql(
        _RECALL_SPARK.format(labeled=labeled, vecs=vecs, cosq=cosq)
    )


_RECALL_DUCK = _recall_sql(_DUCK_VECS, _DUCK_DOT, "").format(idiv="//")


QUERIES = {
    "sim_quantize_int8": sim_quantize_int8,
    "sim_bruteforce_topk": sim_bruteforce_topk,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_norm_stats": sim_norm_stats,
    "sim_rp_lsh_buckets": sim_rp_lsh_buckets,
    "sim_blocked_matmul_topk": sim_blocked_matmul_topk,
    "sim_product_quantize": sim_product_quantize,
    "sim_batch_diversity": sim_batch_diversity,
    "sim_mmr_diverse_topk": sim_mmr_diverse_topk,
    "sim_ivf_recall_eval": sim_ivf_recall_eval,
}

ORACLE = {
    "sim_quantize_int8": _QUANT_DUCK,
    "sim_bruteforce_topk": _BRUTE_DUCK,
    "sim_ivf_topk": _IVF_DUCK,
    "sim_norm_stats": _NORMSTATS_DUCK,
    "sim_rp_lsh_buckets": _RP_DUCK,
    "sim_blocked_matmul_topk": _MM_SQL,
    "sim_product_quantize": _PQ_DUCK,
    "sim_batch_diversity": _DIV_DUCK,
    "sim_mmr_diverse_topk": _MMR_DUCK,
    "sim_ivf_recall_eval": _RECALL_DUCK,
}
