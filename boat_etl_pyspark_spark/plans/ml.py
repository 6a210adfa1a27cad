"""In-engine ML: feature preparation, model training, evaluation
metrics and embedding analytics (``embed_*``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import shared, track_persist
from ..operators.library import global_rank
from ..sources.readers import load_table
from .contract import (
    EMB_VALID_DUCK,
    EMB_VALID_SPARK,
    VALUE_DOMAIN_SQL,
    money_cents,
    money_cents_sql,
    money_rounded_sql,
    tpch_date_valid_sql,
)
from . import bind_sql


# ---------------------------------------------------------------------------
# Integer-exact k-means (2 Lloyd iterations, unrolled)
# ---------------------------------------------------------------------------

_KMEANS_SPARK = """
WITH q AS (
  SELECT vec_id,
         transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM {emb}
  WHERE embedding IS NOT NULL AND size(embedding) = 64
    AND NOT exists(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)
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
), c1 AS (
  SELECT /*+ BROADCAST(a1) */ a1.cid, e.pos,
         SUM(e.val) DIV COUNT(*) AS cval
  FROM e JOIN a1 ON e.vec_id = a1.vec_id
  GROUP BY a1.cid, e.pos
), d2 AS (
  SELECT /*+ BROADCAST(c1) */ e.vec_id, c1.cid,
         SUM((e.val - c1.cval) * (e.val - c1.cval)) AS dist
  FROM e JOIN c1 ON e.pos = c1.pos
  GROUP BY e.vec_id, c1.cid
), a2 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
    FROM d2
  ) WHERE rk = 1
)
SELECT cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(dist) AS BIGINT) AS inertia
FROM a2 GROUP BY cid
"""


_KMEANS_DUCK = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
           AS qv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
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
), c1 AS (
  SELECT a1.cid, e.pos,
         CAST(CAST(SUM(e.val) AS BIGINT) // COUNT(*) AS BIGINT) AS cval
  FROM e JOIN a1 ON e.vec_id = a1.vec_id
  GROUP BY a1.cid, e.pos
), d2 AS (
  SELECT e.vec_id, c1.cid,
         CAST(SUM((e.val - c1.cval) * (e.val - c1.cval)) AS BIGINT) AS dist
  FROM e JOIN c1 ON e.pos = c1.pos
  GROUP BY e.vec_id, c1.cid
), a2 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
    FROM d2
  ) t WHERE rk = 1
)
SELECT cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(dist) AS BIGINT) AS inertia
FROM a2 GROUP BY cid
"""


#   * ``embed_kmeans_lloyd`` — two unrolled Lloyd iterations of k-means
#     (k=8, deterministic seed = the 8 lowest vec_ids) entirely in
#     integer-quantized arithmetic: vectors quantize to thousandths,
#     centroid means use integer division, distances are integer
#     squared-L2. Every step is an associative integer aggregate, so
#     the assignment (and therefore the oracle hash) is bit-identical
#     at any parallelism — the trick that makes iterative clustering
#     testable across engines. The plan per iteration is: broadcast the
#     k×d centroid table, one explode-join-aggregate for distances, a
#     per-vector argmin window, one aggregate for the new centroids —
#     exactly the shape that scales to a 1000-executor corpus (the
#     centroid relation stays k×d rows no matter the corpus size).
def embed_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two integer-exact Lloyd iterations over the embedding corpus;
    returns per-cluster population and inertia (sum of squared
    distances to the assigned centroid). Truncating integer division
    (Spark ``DIV`` / DuckDB ``//`` both truncate toward zero) keeps
    the centroid update deterministic and engine-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    return bind_sql(spark, _KMEANS_SPARK, emb=emb)


# ---------------------------------------------------------------------------
# Gramian via per-partition matmul partials
# ---------------------------------------------------------------------------

_GRAM_DIMS = 16


#   * ``embed_gram_matrix`` — the Gramian X^T X over the first 16
#     quantized dimensions via ``mapInPandas``: each partition computes
#     a LOCAL int64 matmul (numpy, exact) and emits only its d×d
#     partial, so the shuffle is O(partitions · d²) regardless of row
#     count — the communication shape of distributed PCA/covariance at
#     100 TB. The oracle recomputes every entry as a plain SUM of
#     products.
def embed_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper triangle of X^T X over the first 16 quantized embedding
    dimensions. Quantization happens JVM-side (same rounding as the
    oracle); the Python stage only multiplies exact int64, one numpy
    matmul per Arrow batch, emitting d(d+1)/2 partials per partition.
    The groupBy then sums ≤ partitions × 136 tiny rows — the
    driver/shuffle never sees the corpus."""
    import pandas as pd  # noqa: PLC0415 — worker-side import kept local

    d = _GRAM_DIMS
    # full vector-validity rule incl. size(embedding) = dims: a ragged
    # or empty vector would crash np.stack below (round-8 probe class)
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.expr(EMB_VALID_SPARK)
    )
    q = emb.select(
        F.expr(
            "transform(slice(embedding, 1, 16), "
            "x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv"
        )
    )

    def partials(batches):
        import numpy as np

        acc = np.zeros((d, d), dtype=np.int64)
        for pdf in batches:
            if len(pdf):
                m = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
                acc += m.T @ m
        iu = np.triu_indices(d)
        yield pd.DataFrame(
            {"i": iu[0].astype("int64"), "j": iu[1].astype("int64"),
             "partial": acc[iu]}
        )

    return (
        q.mapInPandas(partials, "i bigint, j bigint, partial bigint")
        .groupBy("i", "j")
        .agg(F.sum("partial").alias("gram"))
    )


_GRAM_DUCK = f"""
WITH q AS (
  SELECT list_transform(embedding[1:{_GRAM_DIMS}],
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
           AS qv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
)
SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
       CAST(SUM(CAST(qv[i] AS BIGINT) * CAST(qv[j] AS BIGINT)) AS BIGINT)
         AS gram
FROM q,
     (SELECT unnest(range(1, {_GRAM_DIMS + 1})) AS i),
     (SELECT unnest(range(1, {_GRAM_DIMS + 1})) AS j)
WHERE i <= j
GROUP BY 1, 2
"""


_PCA_DUCK = f"""
WITH q AS (
  SELECT list_transform(embedding[1:16],
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
    AS qv
  FROM embeddings
  WHERE {EMB_VALID_DUCK}
), tri AS (
  SELECT i - 1 AS i, j - 1 AS j,
         CAST(SUM(CAST(qv[i] AS HUGEINT) * qv[j]) AS BIGINT) AS gram
  FROM q, UNNEST(range(1, 17)) AS a(i), UNNEST(range(1, 17)) AS b(j)
  WHERE j >= i
  GROUP BY i, j
), m AS (
  SELECT i, j, gram FROM tri
  UNION ALL
  SELECT j AS i, i AS j, gram FROM tri WHERE i != j
), v0 AS (
  SELECT i AS j, CAST(1000 AS BIGINT) AS v
  FROM (SELECT DISTINCT i FROM tri)
), {",".join(
    f'''g{k} AS (
  SELECT m.i AS j, CAST(SUM(m.gram * v{k - 1}.v) AS BIGINT) AS gv
  FROM m JOIN v{k - 1} ON m.j = v{k - 1}.j GROUP BY m.i
), v{k} AS (
  SELECT j, CAST(floor(CAST(gv AS DOUBLE) * 1000
                       / max(abs(gv)) OVER ()) AS BIGINT) AS v
  FROM g{k}
)''' for k in (1, 2, 3)
)}
SELECT v3.j AS dim,
       v3.v AS v_scaled,
       CAST(floor(CAST(ray.vgv AS DOUBLE) / CAST(ray.vv AS DOUBLE) * 1e6)
            AS BIGINT) AS rayleigh_micro
FROM v3
CROSS JOIN (
  SELECT CAST(SUM(y.gv * v3b.v) AS BIGINT) AS vgv,
         CAST(SUM(v3b.v * v3b.v) AS BIGINT) AS vv
  FROM (SELECT m.i, CAST(SUM(m.gram * v3a.v) AS BIGINT) AS gv
        FROM m JOIN v3 v3a ON m.j = v3a.j GROUP BY m.i) y
  JOIN v3 v3b ON y.i = v3b.j
) ray
"""


#   * ``embed_pca_power`` — top principal direction of the quantized
#     embedding gram matrix by THREE fixed power iterations, entirely
#     as DataFrame joins: the corpus-sized work is the one distributed
#     X^T X pass (reused from ``embed_gram_matrix``, the Spark-MLlib
#     RowMatrix shape); each iteration is a matvec on the 16x16
#     broadcast-sized matrix with integer renormalization (max-abs
#     scale 1000), so every intermediate is deterministic. Output: the
#     scaled eigenvector plus its Rayleigh quotient in micro units.
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the 16-dim quantized embedding gram
    matrix via 3 power iterations. The distributed pass is the X^T X
    partial-matmul from ``embed_gram_matrix`` (corpus never leaves
    the executors, 136-row result); iterations are joins on that tiny
    relation with integer max-abs renormalization — the
    MLlib-RowMatrix decomposition re-expressed declaratively. All
    intermediates are exact BIGINTs; only the final Rayleigh quotient
    divides.

    The gram relation is bounded by the embedding dimension — 136
    rows at ANY corpus size, a model constant like the nation count —
    so it is pulled once as a bounded summary and the three power
    iterations run driver-side (guide §1.2: the unrolled-CTE form
    referenced the 136-row view ~10 times and scheduled ~38 tiny
    stage-jobs; only the corpus-sized X^T X pass needs the cluster).
    Arithmetic replicates the SQL exactly: integer sums are exact,
    the per-iteration renormalization and the Rayleigh quotient use
    the same float64 operation order, and the BIGINT cast applies
    Java double→long semantics (NaN→0, ±Inf→Long.MIN/MAX) so even
    the degenerate all-zero-gram edge matches the Spark SQL form the
    oracle mirrors."""
    def _div(a: float, b: float) -> float:
        # IEEE semantics like the SQL double divide (python raises on
        # /0.0): 0/0 -> NaN, x/0 -> ±Inf — reachable only on an
        # all-zero gram (empty/degenerate corpus)
        if b == 0.0:
            return float("nan") if a == 0.0 else math.copysign(
                float("inf"), a
            )
        return a / b

    def _as_long(f: float) -> int:
        if math.isnan(f):
            return 0
        if f >= float(2**63 - 1):
            return 2**63 - 1
        if f <= float(-(2**63)):
            return -(2**63)
        return int(math.floor(f))

    # bounded collect: d(d+1)/2 = 136 rows at any scale
    tri = embed_gram_matrix(spark, sf_dir).collect()
    schema = "dim bigint, v_scaled bigint, rayleigh_micro bigint"
    if not tri:
        return spark.createDataFrame([], schema)
    m: dict = {}
    for r in tri:
        m[(r["i"], r["j"])] = r["gram"]
        if r["i"] != r["j"]:
            m[(r["j"], r["i"])] = r["gram"]
    v = {r["i"]: 1000 for r in tri}
    for _ in range(3):
        gv: dict = {}
        for (i, j), g in m.items():
            if j in v:
                gv[i] = gv.get(i, 0) + g * v[j]
        maxabs = max(abs(x) for x in gv.values())
        v = {
            i: _as_long(_div(float(x) * 1000.0, float(maxabs)))
            for i, x in gv.items()
        }
    gv = {}
    for (i, j), g in m.items():
        if j in v:
            gv[i] = gv.get(i, 0) + g * v[j]
    vgv = sum(gv[i] * v[i] for i in gv if i in v)
    vv = sum(x * x for x in v.values())
    ray = _as_long(_div(float(vgv), float(vv)) * 1e6)
    rows = [(d_, v[d_], ray) for d_ in sorted(v)]
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Smoothed target encoding
# ---------------------------------------------------------------------------

_TE_PRIOR = 100  # pseudo-count weight of the global mean


_TE_CORE = f"""
WITH j AS (
  SELECT c.c_mktsegment AS segment,
         TRY_CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM {{orders}} o JOIN {{customer}} c ON o.o_custkey = c.c_custkey
), seg AS (
  SELECT segment, COUNT(*) AS n, SUM(CAST(cents AS {{big}})) AS s
  FROM j GROUP BY segment
), segt AS (
  -- global moments as windows over the tiny segment relation: a
  -- re-aggregate + cross join would recompute seg (and re-run the
  -- orders x customer join)
  SELECT segment, n, s,
         SUM(n) OVER () AS gn, SUM(s) OVER () AS gs
  FROM seg
)
SELECT segment,
       CAST(n AS BIGINT) AS n_orders,
       CAST(s {{div}} n AS BIGINT) AS mean_cents,
       CAST((s * gn + {_TE_PRIOR} * gs)
            {{div}} (CAST(n + {_TE_PRIOR} AS {{big}}) * gn) AS BIGINT)
         AS encoded_cents
FROM segt
"""


#   * ``ml_target_encoding`` — smoothed target (mean) encoding of a
#     categorical feature: per-segment mean order value shrunk toward
#     the global mean by a pseudo-count prior. The classic tabular-ML
#     encoder, computed as ONE map-combined aggregate + a 1-row
#     broadcast of the global moments; all arithmetic in
#     DECIMAL(38,0)/HUGEINT so the encoding is bit-identical at any
#     parallelism and never overflows at 1e12 rows.
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean encoding of customer market segment against
    order totals: encoded = (sum + m*global_mean) / (n + m) with
    m=100, evaluated as a single integer ratio
    (s*gn + m*gs) / ((n+m)*gn) so no intermediate division loses
    precision. The segment aggregate is map-combined (5 groups); the
    global moments are windows over that tiny relation, so the
    orders x customer join runs exactly once."""
    return bind_sql(
        spark,
        _TE_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        customer=load_table(spark, sf_dir, "customer"),
        big="DECIMAL(38,0)",
        div="DIV",
    )


_TE_DUCK = _TE_CORE.format(
    orders="orders", customer="customer", big="HUGEINT", div="//"
)


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick)
# ---------------------------------------------------------------------------

_FH_BUCKETS = 64


_FH_SPARK = f"""
WITH toks AS (
  SELECT explode(filter(split(p_name, ' '), x -> x != '')) AS tok
  FROM {{part}}
), h AS (
  SELECT tok,
         CAST(conv(substr(md5(tok), 1, 6), 16, 10) AS BIGINT)
           % {_FH_BUCKETS} AS bucket,
         CASE WHEN CAST(conv(substr(md5(tok), 7, 1), 16, 10) AS BIGINT) % 2 = 0
              THEN 1 ELSE -1 END AS sign
  FROM toks
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
       CAST(SUM(sign) AS BIGINT) AS feature_val
FROM h GROUP BY bucket
"""


_FH_DUCK = f"""
WITH toks AS (
  SELECT tok
  FROM part, UNNEST(list_filter(string_split(p_name, ' '), x -> x != ''))
       AS t(tok)
), h AS (
  SELECT tok,
         CAST('0x' || substr(md5(tok), 1, 6) AS BIGINT) % {_FH_BUCKETS}
           AS bucket,
         CASE WHEN CAST('0x' || substr(md5(tok), 7, 1) AS BIGINT) % 2 = 0
              THEN 1 ELSE -1 END AS sign
  FROM toks
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
       CAST(SUM(sign) AS BIGINT) AS feature_val
FROM h GROUP BY bucket
"""


#   * ``ml_feature_hashing`` — the hashing trick: tokens hashed into
#     64 signed feature buckets (md5-derived bucket and sign, the
#     engine-portable hash used across this repo). Per-bucket occupancy,
#     distinct-token collision count and signed sum — the
#     dimensionality-independent featurizer for unbounded vocabularies.
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization of part-name tokens into 64 signed
    buckets. Bucket and sign come from disjoint md5 hex spans (the
    repo's engine-portable hash), so the feature map needs no
    vocabulary and no fit step; the signed sum makes collisions
    cancel in expectation (Weinberger et al.'s trick). One explode +
    one map-combined aggregate over at most 64 groups."""
    return bind_sql(spark, _FH_SPARK, part=load_table(spark, sf_dir, "part"))


# ---------------------------------------------------------------------------
# Inverse-frequency class weights
# ---------------------------------------------------------------------------

_CW_CORE = """
WITH l AS (
  SELECT label, COUNT(*) AS n FROM {emb} GROUP BY label
), lt AS (
  SELECT label, n, SUM(n) OVER () AS tot, COUNT(*) OVER () AS k FROM l
)
SELECT CAST(label AS INT) AS label,
       CAST(n AS BIGINT) AS n_vectors,
       CAST(tot * 1000000 {div} (k * n) AS BIGINT) AS weight_ppm
FROM lt
"""


#   * ``ml_class_weights`` — inverse-frequency class weights over the
#     embedding labels (balanced-reweighting), integer ppm. One tiny
#     aggregate + 1-row broadcast.
def ml_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced inverse-frequency class weights over embedding labels
    (sklearn's 'balanced' heuristic, integer ppm): weight_c =
    total / (k * n_c). A uniformly-sampled batch reweighted by these
    trains as if classes were balanced. One tiny aggregate; totals are
    windows over the label relation, so embeddings scan once."""
    return bind_sql(
        spark, _CW_CORE, emb=load_table(spark, sf_dir, "embeddings"), div="DIV"
    )


_CW_DUCK = _CW_CORE.format(emb="embeddings", div="//")


# ---------------------------------------------------------------------------
# Per-label centroid drift
# ---------------------------------------------------------------------------

_DRIFT_SPARK = """
WITH q AS (
  SELECT label, pos, CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS val
  FROM (SELECT * FROM {emb}
        WHERE embedding IS NOT NULL
          AND NOT exists(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6))
  LATERAL VIEW posexplode(embedding) p AS pos, x
), lab AS (
  SELECT label, pos, SUM(val) AS s, COUNT(*) AS n
  FROM q GROUP BY label, pos
), gcent AS (
  SELECT pos, SUM(val) AS gs, COUNT(*) AS gn FROM q GROUP BY pos
), d AS (
  SELECT label, lab.n,
         CAST(s AS DOUBLE) / lab.n - CAST(gs AS DOUBLE) / gn AS diff
  FROM lab JOIN gcent ON lab.pos = gcent.pos
)
SELECT CAST(label AS INT) AS label,
       CAST(MIN(n) AS BIGINT) AS n_vectors,
       CAST(floor(sqrt(SUM(diff * diff))) AS BIGINT) AS drift_milli
FROM d GROUP BY label
"""


_DRIFT_DUCK = """
WITH q AS (
  SELECT label, pos - 1 AS pos,
         CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS val
  FROM (SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
        WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0)
), lab AS (
  SELECT label, pos, SUM(val) AS s, COUNT(*) AS n
  FROM q GROUP BY label, pos
), gcent AS (
  SELECT pos, SUM(val) AS gs, COUNT(*) AS gn FROM q GROUP BY pos
), d AS (
  SELECT label, lab.n,
         CAST(s AS DOUBLE) / lab.n - CAST(gs AS DOUBLE) / gn AS diff
  FROM lab JOIN gcent ON lab.pos = gcent.pos
)
SELECT CAST(label AS INT) AS label,
       CAST(MIN(n) AS BIGINT) AS n_vectors,
       CAST(floor(sqrt(SUM(diff * diff))) AS BIGINT) AS drift_milli
FROM d GROUP BY label
"""


#   * ``embed_centroid_drift`` — per-label centroid L2 distance from
#     the global centroid in milli units: the embedding-QA check that a
#     class has not drifted from the population. One posexplode +
#     map-combined (label, pos) aggregate; the global centroid is a
#     64-row broadcast.
def embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 distance of each label's centroid from the global centroid,
    in milli units of the embedding scale. Centroids come from exact
    integer (label, pos) sums — one map-combined aggregate over the
    posexploded corpus; the 64-row global centroid joins back as a
    broadcast. Per-class drift is the standard embedding-space QA
    check before training on auto-labeled data."""
    return bind_sql(
        spark, _DRIFT_SPARK, emb=load_table(spark, sf_dir, "embeddings")
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U
# ---------------------------------------------------------------------------

# Score-grid quantization knob — see relational30._SCORE_GRID_CENTS
# (the `_SPEAR_GRID_CENTS` pattern on the events-cents rank keys).
# 1 = exact cents, bit-identical default; coarser values rank on the
# grid, symmetrically in plan and oracle.
_SCORE_GRID_CENTS = 1


# ---------------------------------------------------------------------------
# Mutual information between two categorical columns
# ---------------------------------------------------------------------------

_MI_CORE = """
WITH j AS (
  SELECT l_returnflag AS x, l_linestatus AS y, COUNT(*) AS c
  FROM {lineitem} GROUP BY l_returnflag, l_linestatus
), w AS (
  SELECT c,
         SUM(c) OVER (PARTITION BY x) AS cx,
         SUM(c) OVER (PARTITION BY y) AS cy,
         SUM(c) OVER () AS n,
         ROW_NUMBER() OVER (PARTITION BY x ORDER BY y) AS rnx,
         ROW_NUMBER() OVER (PARTITION BY y ORDER BY x) AS rny
  FROM j
), s AS (
  SELECT MAX(n) AS n,
         SUM(CAST(floor((CAST(c AS DOUBLE) / n)
                        * ln(CAST(c AS DOUBLE) * n
                             / (CAST(cx AS DOUBLE) * cy))
                        * 1e9) AS BIGINT)) AS mi_nano,
         SUM(CASE WHEN rnx = 1 THEN
               CAST(floor(-(CAST(cx AS DOUBLE) / n)
                          * ln(CAST(cx AS DOUBLE) / n) * 1e9) AS BIGINT)
             ELSE 0 END) AS hx_nano,
         SUM(CASE WHEN rny = 1 THEN
               CAST(floor(-(CAST(cy AS DOUBLE) / n)
                          * ln(CAST(cy AS DOUBLE) / n) * 1e9) AS BIGINT)
             ELSE 0 END) AS hy_nano
  FROM w
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(mi_nano AS BIGINT) AS mi_nano_nats,
       CAST(hx_nano AS BIGINT) AS h_flag_nano_nats,
       CAST(hy_nano AS BIGINT) AS h_status_nano_nats,
       CAST(mi_nano * 1000 {idiv} least(hx_nano, hy_nano) AS BIGINT)
         AS nmi_milli
FROM s
"""


#   * ``ml_mutual_information`` — mutual information between
#     l_returnflag and l_linestatus plus both marginal entropies and the
#     normalized-MI ratio, all from ONE (flag, mode) count scan;
#     nano-nat per-cell floors keep it exact.
def ml_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between l_returnflag and l_linestatus with
    both marginal entropies and min-normalized MI. ONE (x, y) count
    scan of the fact table; marginals and the grand total are windows
    over the ~6-cell contingency relation (never a re-aggregate that
    would re-read the table), and each marginal's entropy term is
    emitted once via a first-row-per-partition flag. Per-cell
    nano-nat floors make the sums order-independent. This is the
    feature-selection primitive (rank features by MI with the label)
    of an ML-prep pipeline."""
    return bind_sql(
        spark,
        _MI_CORE,
        lineitem=load_table(spark, sf_dir, "lineitem"),
        idiv="DIV",
    )


_MI_DUCK = _MI_CORE.format(lineitem="lineitem", idiv="//")


# ---------------------------------------------------------------------------
# Stratified k-fold assignment
# ---------------------------------------------------------------------------

_KFOLD_K = 5


_KFOLD_CORE = f"""
WITH f AS (
  SELECT c_mktsegment AS segment,
         CAST({{bucket}} % {_KFOLD_K} AS BIGINT) AS fold,
         TRY_CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM {{customer}}
)
SELECT segment, fold,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(bal_cents) AS BIGINT) AS sum_bal_cents,
       CAST(COUNT(*) * 1000
            {{idiv}} SUM(COUNT(*)) OVER (PARTITION BY segment)
         AS BIGINT) AS share_milli
FROM f GROUP BY segment, fold
ORDER BY segment, fold
"""


_KFOLD_SPARK_BUCKET = (
    "CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 6), 16, 10)"
    " AS BIGINT)"
)


_KFOLD_DUCK_BUCKET = (
    "CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS BIGINT)"
)


#   * ``ml_kfold_assign`` — deterministic stratified 5-fold assignment
#     of customers (md5-bucket within c_mktsegment), with per-fold
#     balance shares in exact milli units — the reproducible
#     cross-validation split step of an ML pipeline.
def ml_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified 5-fold split of customers: fold =
    md5(custkey) bucket (seedless, engine-portable, stable under
    re-partitioning — the property a reproducible CV split needs),
    reported as per-(segment, fold) counts, balance shares in exact
    milli units, and account-balance mass. One scan, one aggregate;
    the window runs on the 25-row aggregate output."""
    return bind_sql(
        spark,
        _KFOLD_CORE,
        customer=load_table(spark, sf_dir, "customer"),
        bucket=_KFOLD_SPARK_BUCKET,
        idiv="DIV",
    )


_KFOLD_DUCK = _KFOLD_CORE.format(
    customer="customer", bucket=_KFOLD_DUCK_BUCKET, idiv="//"
)


_AUC_CORE = """
WITH v AS (
  SELECT TRY_CAST(round(value * 100) AS BIGINT) {idiv} {grid} AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM {events}
  WHERE value IS NOT NULL  -- scan-pushdown half of the predicate
    AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
), cnt AS (
  SELECT s, SUM(y) AS cp, COUNT(*) AS ct FROM v GROUP BY s
), w AS (
  SELECT s, cp, ct,
         coalesce(SUM(ct) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM cnt
), agg AS (
  SELECT SUM(CAST(cp AS {big}) * (2 * below + ct + 1)) AS r2_pos,
         SUM(cp) AS n_pos, SUM(ct - cp) AS n_neg
  FROM w
)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CAST((r2_pos - CAST(n_pos AS {big}) * (n_pos + 1)) * 1000000
            {idiv} (2 * CAST(n_pos AS {big}) * n_neg) AS BIGINT)
         AS auc_ppm
FROM agg
"""


#   * ``ml_roc_auc`` — exact ROC AUC via the rank-sum identity
#     AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg): doubled
#     midranks from a cumulative window over the (bounded) distinct
#     cents grid, all integers until one final ppm integer division.
#     The Mann-Whitney machinery reused as a model-evaluation metric.
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of event value predicting 'purchase', by the
    rank-sum identity — no threshold sweep, no row-level sort:
    doubled midranks come from one cumulative window over the
    bounded distinct-cents grid (ties handled exactly, as the
    trapezoidal ROC requires), and the statistic stays integer until
    a single ppm integer division. One fact scan."""
    return bind_sql(
        spark,
        _AUC_CORE,
        events=load_table(spark, sf_dir, "events"),
        big="DECIMAL(38,0)",
        idiv="DIV",
        grid=_SCORE_GRID_CENTS,
    )


_AUC_DUCK = _AUC_CORE.format(events="events", big="HUGEINT", idiv="//",
                             grid=_SCORE_GRID_CENTS)


# ---------------------------------------------------------------------------
# Calibration (reliability diagram)
# ---------------------------------------------------------------------------
# "Predicted probability" = value / 400 (the fixture's value domain is
# ~[0, 330]), clamped to [0, 1]; in ppm that is min(cents * 2500,
# 1_000_000). Ten fixed-width bins over the prediction.

# The value-domain bound (contract.VALUE_DOMAIN_SQL) keeps the cents
# x2500 ppm product exact INT64 in both engines: a TRY_CAST-castable
# 9.21e18-cent value would otherwise overflow where DuckDB throws and
# Spark wraps (round-8 probe). BETWEEN is scan-pushdown-able.
_CAL_CORE = f"""
WITH v AS (
  SELECT least(TRY_CAST(round(value * 100) AS BIGINT) * 2500, 1000000) AS p_ppm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM {{events}}
  WHERE {VALUE_DOMAIN_SQL}  -- scan-pushdown half of the predicate
    AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
), b AS (
  SELECT least(p_ppm {{idiv}} 100000, 9) AS bin, p_ppm, y FROM v
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(p_ppm) {{idiv}} COUNT(*) AS BIGINT) AS mean_pred_ppm,
       CAST(SUM(y) * 1000000 {{idiv}} COUNT(*) AS BIGINT) AS obs_ppm,
       CAST(SUM(p_ppm) {{idiv}} COUNT(*)
            - SUM(y) * 1000000 {{idiv}} COUNT(*) AS BIGINT) AS gap_ppm
FROM b GROUP BY bin
ORDER BY bin
"""


#   * ``ml_calibration_bins`` — reliability diagram: fixed-width score
#     bins, per-bin mean "predicted probability" (value/400 in exact
#     ppm) vs observed positive rate, and the signed gap. One
#     conditional-aggregate scan.
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the value-as-probability model: ten
    fixed-width prediction bins, each reporting mean predicted ppm,
    observed positive rate ppm, and the signed calibration gap — all
    exact integer division, ONE conditional-aggregate scan. The
    production calibration check before trusting model scores for
    data selection."""
    return bind_sql(
        spark,
        _CAL_CORE,
        events=load_table(spark, sf_dir, "events"),
        idiv="DIV",
    )


_CAL_DUCK = _CAL_CORE.format(events="events", idiv="//")


# ---------------------------------------------------------------------------
# Confusion matrix at multiple thresholds
# ---------------------------------------------------------------------------

_CONF_THRESHOLDS = "(VALUES (2500), (5000), (10000)) AS t(thr_cents)"


_CONF_CORE = """
WITH v AS (
  SELECT TRY_CAST(round(value * 100) AS BIGINT) AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM {events}
  WHERE value IS NOT NULL  -- scan-pushdown half of the predicate
    AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
), m AS (
  SELECT t.thr_cents,
         SUM(CASE WHEN v.s >= t.thr_cents AND v.y = 1 THEN 1 ELSE 0 END)
           AS tp,
         SUM(CASE WHEN v.s >= t.thr_cents AND v.y = 0 THEN 1 ELSE 0 END)
           AS fp,
         SUM(CASE WHEN v.s < t.thr_cents AND v.y = 1 THEN 1 ELSE 0 END)
           AS fn,
         SUM(CASE WHEN v.s < t.thr_cents AND v.y = 0 THEN 1 ELSE 0 END)
           AS tn
  FROM v CROSS JOIN {thresholds}
  GROUP BY t.thr_cents
)
SELECT CAST(thr_cents AS BIGINT) AS thr_cents,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       CAST(tp * 1000 {idiv} (tp + fp) AS BIGINT) AS precision_milli,
       CAST(tp * 1000 {idiv} (tp + fn) AS BIGINT) AS recall_milli,
       CAST(2 * tp * 1000 {idiv} (2 * tp + fp + fn) AS BIGINT) AS f1_milli
FROM m
ORDER BY thr_cents
"""


#   * ``ml_confusion_threshold`` — confusion matrix + precision /
#     recall / F1 (exact milli) at three operating thresholds from ONE
#     scan: thresholds come from an inline constant table, so adding an
#     operating point never adds a pass.
def ml_confusion_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix with exact precision / recall / F1 (milli) at
    three operating thresholds, from ONE scan: the threshold relation
    is an inline constant table cross-joined before the conditional
    aggregate, so every additional operating point is four more
    CASE-sums in the same pass, never another pass."""
    return bind_sql(
        spark,
        _CONF_CORE,
        events=load_table(spark, sf_dir, "events"),
        thresholds=_CONF_THRESHOLDS,
        idiv="DIV",
    )


_CONF_DUCK = _CONF_CORE.format(
    events="events", thresholds=_CONF_THRESHOLDS, idiv="//"
)


# ---------------------------------------------------------------------------
# Deterministic contrastive negative sampling
# ---------------------------------------------------------------------------

_NEG_K = 3


_NEG_MOD = 53  # 1-in-53 customer subset keeps the demo output bounded


# Seedless engine-portable pseudo-randomness: first 24 md5 bits of
# "custkey:partkey:j" (the ml_kfold_assign idiom).
_NEG_SPARK_BUCKET = (
    "CAST(conv(substr(md5(CAST(custkey AS STRING) || ':' ||"
    " CAST(partkey AS STRING) || ':' || CAST(j AS STRING)), 1, 6),"
    " 16, 10) AS BIGINT)"
)


_NEG_DUCK_BUCKET = (
    "CAST('0x' || substr(md5(CAST(custkey AS VARCHAR) || ':' ||"
    " CAST(partkey AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 6)"
    " AS BIGINT)"
)


_NEG_VALUES = ", ".join(f"({j})" for j in range(1, _NEG_K + 1))


# Positives are derived ONCE (the multi-referenced-CTE audit rule —
# a NOT EXISTS form would inline-derive the orders x lineitem join
# twice): one custkey-grouped set per customer feeds both candidate
# generation (explode) and the collision filter (array membership).
# The per-customer positive set is a purchase history — naturally
# bounded at scale; a pathological 10^6-item customer would switch
# this back to the two-derivation anti-join form.
_NEG_CORE = f"""
WITH sets AS (
  SELECT o_custkey AS custkey, {{agg_set}} AS pks
  FROM {{orders}} JOIN {{lineitem}} ON o_orderkey = l_orderkey
  WHERE o_custkey % {_NEG_MOD} = 0
  GROUP BY o_custkey
), pmax AS (
  SELECT MAX(p_partkey) AS pm FROM {{part}}
), cand AS (
  SELECT custkey, partkey, j, pks,
         1 + ({{bucket}} % pm) AS neg_partkey
  FROM (SELECT custkey, {{unnest}}(pks) AS partkey, pks FROM sets) e
  CROSS JOIN pmax
  CROSS JOIN (VALUES {_NEG_VALUES}) AS t(j)
)
SELECT custkey,
       partkey AS pos_partkey,
       CAST(j AS BIGINT) AS sample_j,
       CAST(neg_partkey AS BIGINT) AS neg_partkey
FROM cand
WHERE NOT {{contains}}(pks, neg_partkey)
ORDER BY custkey, pos_partkey, sample_j
"""


#   * ``ml_negative_sampling`` — deterministic contrastive negatives
#     for (customer, part) interactions: md5-bucket pseudo-randomness
#     (seedless, partition-stable, engine-portable) proposes K
#     candidate parts per positive, and a NOT EXISTS anti-join against
#     the full positive set removes accidental positives. The standard
#     training-pair generator for two-tower / matrix-factorization
#     models, expressed so both engines agree bit-for-bit.
def ml_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K deterministic negative parts per (customer, part) positive:
    md5-bucket candidates modulo the part-key domain (the 1-row MAX
    relation broadcasts), with accidental positives dropped by set
    membership — so "negative" is exact, not probabilistic. Scale
    posture: interactions shuffle once on custkey into per-customer
    positive sets; candidate generation is a map-side explode over
    them; no second derivation of the join, and no row carries more
    than one purchase history."""
    tables = ("orders", "lineitem", "part")
    return bind_sql(
        spark,
        _NEG_CORE,
        bucket=_NEG_SPARK_BUCKET,
        agg_set="collect_set(l_partkey)",
        unnest="explode",
        contains="array_contains",
        **{t: load_table(spark, sf_dir, t) for t in tables},
    )


_NEG_DUCK = _NEG_CORE.format(
    orders="orders", lineitem="lineitem", part="part",
    bucket=_NEG_DUCK_BUCKET,
    agg_set="list(DISTINCT l_partkey)",
    unnest="unnest",
    contains="list_contains",
)


# ---------------------------------------------------------------------------
# Weight of evidence / information value
# ---------------------------------------------------------------------------

# WoE/IV with additive (+0.5 per class, the half-integer Laplace /
# Yates form, kept integral by doubling) smoothing: an unsmoothed
# ln(good*bt/(bad*gt)) degenerates on a single-class bucket — Spark
# floor(ln(0)) yields NULL while DuckDB CASTs -inf with an error, so
# the two engines would diverge instead of failing cleanly. The
# fixture has no pure buckets, but WoE is defined smoothed precisely
# so that a drifted input cannot produce one.
_WOE_CORE = """
WITH c AS (
  SELECT o_orderpriority AS priority,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS n_good,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_bad
  FROM {orders} GROUP BY o_orderpriority
), t AS (
  SELECT priority, n_good, n_bad,
         2 * n_good + 1 AS g2, 2 * n_bad + 1 AS b2,
         SUM(2 * n_good + 1) OVER () AS gt2,
         SUM(2 * n_bad + 1) OVER () AS bt2
  FROM c
), terms AS (
  SELECT priority, n_good, n_bad,
         CAST(floor(ln((CAST(g2 AS DOUBLE) * bt2)
                       / (CAST(b2 AS DOUBLE) * gt2)) * 1e9)
              AS BIGINT) AS woe_nano,
         CAST(floor((CAST(g2 AS DOUBLE) / gt2
                     - CAST(b2 AS DOUBLE) / bt2)
                    * ln((CAST(g2 AS DOUBLE) * bt2)
                         / (CAST(b2 AS DOUBLE) * gt2)) * 1e9)
              AS BIGINT) AS iv_term_nano
  FROM t
)
SELECT priority,
       CAST(n_good AS BIGINT) AS n_good,
       CAST(n_bad AS BIGINT) AS n_bad,
       woe_nano,
       iv_term_nano,
       CAST(SUM(iv_term_nano) OVER () AS BIGINT) AS iv_total_nano
FROM terms
ORDER BY priority
"""


#   * ``ml_feature_woe_iv`` — weight of evidence and information value
#     of a categorical feature (o_orderpriority) against a binary
#     target (o_orderstatus = 'F'): ONE contingency scan; class totals
#     are windows over the 5-row bucket relation (the
#     global-totals-as-windows rule); WoE / IV terms are fixed-order
#     closed-form doubles floored to nano units per bucket before the
#     integer IV sum — the credit-scoring feature-screening standard.
def ml_feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WoE / IV screening of o_orderpriority against the finished-
    order target: one contingency-count scan; class totals and the IV
    total are windows over the 5-row bucket relation (bounded — the
    single-partition exchange is over feature cardinality, never
    rows); each bucket's WoE and IV term is a fixed-order closed-form
    double floored to nano units, so the cross-bucket IV sum is an
    exact integer in both engines. Counts carry half-integer additive
    smoothing (doubled to stay integral) so a single-class bucket in
    drifted data degrades gracefully instead of hitting ln(0)."""
    return bind_sql(
        spark, _WOE_CORE, orders=load_table(spark, sf_dir, "orders")
    )


_WOE_DUCK = _WOE_CORE.format(orders="orders")


_AP_CORE = """
WITH v AS (
  SELECT TRY_CAST(round(value * 100) AS BIGINT) {idiv} {grid} AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM {events}
  WHERE value IS NOT NULL  -- scan-pushdown half of the predicate
    AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
), cnt AS (
  SELECT s, SUM(y) AS cp, COUNT(*) AS ct FROM v GROUP BY s
), w AS (
  SELECT s, cp, ct,
         SUM(cp) OVER (ORDER BY s DESC
             ROWS UNBOUNDED PRECEDING) AS cum_tp,
         SUM(ct) OVER (ORDER BY s DESC
             ROWS UNBOUNDED PRECEDING) AS cum_all
  FROM cnt
), agg AS (
  SELECT SUM(CAST(cp AS {big}) * cum_tp * 1000000000 {idiv} cum_all)
           AS term_sum,
         SUM(cp) AS n_pos, SUM(ct - cp) AS n_neg
  FROM w
)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CAST(term_sum {idiv} n_pos AS BIGINT) AS ap_nano
FROM agg
"""


#   * ``ml_pr_auc`` — exact average precision (step-wise PR-AUC, the
#     sklearn ``average_precision_score`` definition) for the same
#     deterministic value-predicts-purchase model ``ml_roc_auc``
#     evaluates: one cumulative window over the bounded distinct-cents
#     grid, per-threshold terms cp_k * cumTP_k * 1e9 // cumAll_k stay
#     integers end to end (two nested integer divisions, zero floats) —
#     the class-imbalance-honest companion to ROC AUC.
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision of event value predicting 'purchase':
    AP = sum_k dRecall_k * Precision_k over distinct descending
    thresholds, with ties grouped exactly as the step-wise definition
    requires. Cumulative TP/total ride one window over the bounded
    distinct-cents grid (never rows); each threshold's term
    cp * cumTP * 1e9 // cumAll is an exact integer, so the statistic
    never touches a float. One fact scan — same cost shape as
    ``ml_roc_auc`` (relational30.py)."""
    return bind_sql(
        spark,
        _AP_CORE,
        events=load_table(spark, sf_dir, "events"),
        big="DECIMAL(38,0)",
        idiv="DIV",
        grid=_SCORE_GRID_CENTS,
    )


_AP_DUCK = _AP_CORE.format(events="events", big="HUGEINT", idiv="//",
                           grid=_SCORE_GRID_CENTS)


# ---------------------------------------------------------------------------
# Cumulative gains / lift table
# ---------------------------------------------------------------------------


#   * ``ml_lift_gains_table`` — cumulative gains / lift table of the
#     deterministic value-predicts-purchase model (the companion the
#     `ml_roc_auc` / `ml_pr_auc` pair still lacked): score deciles from
#     the DISTRIBUTED global rank on the unique (cents desc, event_id)
#     key, per-decile positives, cumulative gains ppm and lift milli as
#     windows over the 10-row decile relation. The campaign-targeting
#     readout: "the top 20% of scores captures X% of purchases".
def ml_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-decile gains/lift of the value-predicts-purchase model:
    ranks from ``global_rank`` on the unique (cents DESC via negation,
    event_id) key — one range exchange, deterministic under ties —
    then the decile bucketing, cumulative gains ppm and lift milli are
    windows over the 10-row decile relation. Best scores land in
    decile 1."""
    # a NULL/NaN/Inf score can't be ranked (and each engine invents a
    # different rank position for one) — scoreless rows are dropped
    # symmetrically via the same try-cast predicate the oracle uses.
    ev = (
        load_table(spark, sf_dir, "events")
        .where(
            # plain isNotNull is the scan-pushdown half; try_cast
            # handles NaN/Inf post-scan
            F.col("value").isNotNull()
            & F.round(F.col("value") * 100).try_cast("bigint").isNotNull()
        )
        .select(
            "event_id",
            (-F.round(F.col("value") * 100).try_cast("bigint")).alias("neg_cents"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    # ONE bounded count serves both global_rank's partition sizing and
    # the decile width (was: rank's internal count + a second agg over
    # the ranked relation crossJoined back in — two extra jobs and a
    # broadcast exchange for the same scalar; guide §2.4)
    n = ev.count()
    ranked = global_rank(ev, ["neg_cents", "event_id"], rows=n)
    deciles = (
        ranked.withColumn(
            "decile", F.expr(f"(rank - 1) * 10 DIV {n} + 1")
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("y").alias("n_pos"),
        )
    )
    return (
        deciles.select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("n_pos").cast("bigint").alias("n_pos"),
            F.expr(
                "CAST(SUM(n_pos) OVER (ORDER BY decile"
                " ROWS UNBOUNDED PRECEDING) * 1000000"
                " DIV SUM(n_pos) OVER () AS BIGINT)"
            ).alias("cum_gains_ppm"),
            F.expr(
                "CAST(SUM(n_pos) OVER (ORDER BY decile"
                " ROWS UNBOUNDED PRECEDING) * SUM(n_events) OVER () * 1000"
                " DIV (SUM(n_events) OVER (ORDER BY decile"
                "      ROWS UNBOUNDED PRECEDING) * SUM(n_pos) OVER ())"
                " AS BIGINT)"
            ).alias("cum_lift_milli"),
        )
        .orderBy("decile")
    )


_LIFT_SQL = """
WITH ranked AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         ROW_NUMBER() OVER (ORDER BY -TRY_CAST(round(value * 100) AS BIGINT),
                            event_id) AS rank,
         COUNT(*) OVER () AS n
  FROM events
  WHERE value IS NOT NULL  -- scan-pushdown half of the predicate
    AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
), deciles AS (
  SELECT (rank - 1) * 10 // n + 1 AS decile,
         COUNT(*) AS n_events, SUM(y) AS n_pos
  FROM ranked GROUP BY 1
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(SUM(n_pos) OVER (ORDER BY decile
            ROWS UNBOUNDED PRECEDING) * 1000000
            // SUM(n_pos) OVER () AS BIGINT) AS cum_gains_ppm,
       CAST(SUM(n_pos) OVER (ORDER BY decile
            ROWS UNBOUNDED PRECEDING) * SUM(n_events) OVER () * 1000
            // (SUM(n_events) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING) * SUM(n_pos) OVER ())
            AS BIGINT) AS cum_lift_milli
FROM deciles
ORDER BY decile
"""


# ---------------------------------------------------------------------------
# Logistic regression (fixed-point batch GD, unrolled)
# ---------------------------------------------------------------------------

_LR_MILLI = 2000  # learning rate 2.0, in milli units


_LR_ITERS = 3


# Tiny English stopword set — the discriminative surface signal for
# the en/non-en label (same spirit as text_language_id's n-gram
# heuristic, but here it is a FEATURE a model learns a weight for).
_LR_STOPS = ("the", "of", "and", "to", "a", "in", "is", "it")


# z in nano units (micro weights x milli features); p clamped away
# from 0/1 so the log-loss stays finite on confident rows.
_Z_NANO = "(w0 * 1000 + w1 * x1 + w2 * x2)"


_P = (
    f"greatest(least(1 / (1 + exp(-({_Z_NANO}) / 1e9)), 1 - 1e-9), 1e-9)"
)


_RESID_MICRO = f"CAST(floor((y - {_P}) * 1000000) AS BIGINT)"


_ACC_HIT = f"CASE WHEN ({_Z_NANO} >= 0) = (y = 1) THEN 1 ELSE 0 END"


_LOSS_MICRO = (
    f"CAST(floor(-ln(CASE WHEN y = 1 THEN {_P} ELSE 1 - {_P} END)"
    " * 1000000) AS BIGINT)"
)


def _lr_features_spark() -> list:
    stop_pred = " OR ".join(f"t = '{s}'" for s in _LR_STOPS)
    toks = "filter(split(lower(text), ' '), x -> x != '')"
    return [
        F.expr(
            f"size(filter({toks}, t -> {stop_pred})) * 1000"
            f" DIV greatest(size({toks}), 1)"
        ).alias("x1"),
        F.expr(
            "least(length(replace(text, ' ', '')) * 1000"
            f" DIV greatest(size({toks}), 1), 20000) DIV 20"
        ).alias("x2"),
        F.expr("CASE WHEN lang = 'en' THEN 1 ELSE 0 END").alias("y"),
    ]


#   * ``ml_logreg_quality`` — a logistic-regression language/quality
#     classifier TRAINED inside the engine: three unrolled batch
#     gradient-descent steps over surface features (stopword ratio,
#     mean token length), entirely in fixed-point integer arithmetic
#     (micro-unit weights, per-row floored residuals) so every step is
#     order-independent and engine-exact. This is the
#     quality-classifier-training shape of an LLM data pipeline
#     (fastText-style filters are trained on exactly such surface
#     features) executed as pure aggregates — at 100 TB each step is
#     ONE map-combined pass over the persisted feature relation.
def ml_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 3-feature logistic classifier (bias + stopword-ratio +
    mean-token-length, milli-scaled) for ``lang = 'en'`` with
    {_LR_ITERS} unrolled batch-GD steps. All state is integer:
    weights live in micro units, per-row residuals/losses are floored
    to micro BEFORE summation (order-independent — bit-identical at
    any parallelism), and the weight update is one portable integer
    division (both engines truncate toward zero — replicated below
    with an explicit trunc-div, python's // floors). Each step is
    ONE aggregate over the persisted feature relation with the three
    weights inlined as integer literals, and the six aggregate
    scalars are pulled back per step (a bounded 1-row collect — the
    weight state is 3 integers, so the driver is the right place for
    it; the old 1-row-DataFrame chain doubled its logical plan per
    step and cost two broadcast jobs per iteration, ~33 stage-jobs
    for 3 steps). Row k reports the metrics of w_{{k-1}} on the data
    plus the post-step weights w_k. The documents table is scanned
    once into features; at 100 TB the identical loop is step-per-pass
    with the feature build amortized across steps."""
    import re as _re

    feats = track_persist(
        load_table(spark, sf_dir, "documents").select(*_lr_features_spark())
    )

    def tdiv(a: int, b: int) -> int:
        # SQL DIV truncates toward zero; python // floors
        q = abs(a) // abs(b)
        return q if (a < 0) == (b < 0) else -q

    def subst(expr: str, w: dict) -> str:
        lits = {
            k: ("CAST(NULL AS BIGINT)" if v is None else str(v))
            for k, v in w.items()
        }
        return _re.sub(r"\b(w0|w1|w2)\b", lambda m: lits[m.group(1)], expr)

    w = {"w0": 0, "w1": 0, "w2": 0}
    rows = []
    for it in range(1, _LR_ITERS + 1):
        r = feats.agg(
            F.count("*").alias("n"),
            F.sum(F.expr(subst(f"{_RESID_MICRO} * 1000", w))).alias("g0"),
            F.sum(F.expr(subst(f"{_RESID_MICRO} * x1", w))).alias("g1"),
            F.sum(F.expr(subst(f"{_RESID_MICRO} * x2", w))).alias("g2"),
            F.sum(F.expr(subst(_ACC_HIT, w))).alias("acc_cnt"),
            F.sum(F.expr(subst(_LOSS_MICRO, w))).alias("loss_sum"),
        ).first()
        n = r["n"]

        def upd(wk, gk, n=n):
            # NULL propagation of the SQL form: a NULL gradient (all
            # rows NULL / empty input) or n = 0 (DIV by zero) -> NULL
            if wk is None or gk is None or n == 0:
                return None
            return wk + tdiv(_LR_MILLI * gk, n * 1000000)

        w = {
            "w0": upd(w["w0"], r["g0"]),
            "w1": upd(w["w1"], r["g1"]),
            "w2": upd(w["w2"], r["g2"]),
        }
        acc_ppm = (
            None if r["acc_cnt"] is None or n == 0
            else tdiv(r["acc_cnt"] * 1000000, n)
        )
        loss_micro = (
            None if r["loss_sum"] is None or n == 0
            else tdiv(r["loss_sum"], n)
        )
        rows.append((it, w["w0"], w["w1"], w["w2"], acc_ppm, loss_micro))
    return spark.createDataFrame(
        rows,
        "iter int, w0_micro bigint, w1_micro bigint, w2_micro bigint,"
        " acc_ppm bigint, loss_micro bigint",
    ).orderBy("iter")


def _lr_duck() -> str:
    stop_pred = " OR ".join(f"t = '{s}'" for s in _LR_STOPS)
    toks = "list_filter(string_split(lower(text), ' '), x -> x != '')"
    parts = [
        f"""f AS (
  SELECT len(list_filter({toks}, t -> {stop_pred})) * 1000
           // greatest(len({toks}), 1) AS x1,
         least(length(replace(text, ' ', '')) * 1000
           // greatest(len({toks}), 1), 20000) // 20 AS x2,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
), wstep0 AS (
  SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
         CAST(0 AS BIGINT) AS w2
)"""
    ]
    idiv = "//"
    for it in range(1, _LR_ITERS + 1):
        prev = f"wstep{it - 1}"
        parts.append(f"""a{it} AS (
  SELECT COUNT(*) AS n,
         SUM({_RESID_MICRO} * 1000) AS g0,
         SUM({_RESID_MICRO} * x1) AS g1,
         SUM({_RESID_MICRO} * x2) AS g2,
         SUM({_ACC_HIT}) AS acc_cnt,
         SUM({_LOSS_MICRO}) AS loss_sum
  FROM f, {prev}
), r{it} AS (
  SELECT CAST({it} AS INT) AS iter,
         CAST(w0 + ({_LR_MILLI} * g0) {idiv} (n * 1000000) AS BIGINT) AS w0,
         CAST(w1 + ({_LR_MILLI} * g1) {idiv} (n * 1000000) AS BIGINT) AS w1,
         CAST(w2 + ({_LR_MILLI} * g2) {idiv} (n * 1000000) AS BIGINT) AS w2,
         CAST(acc_cnt * 1000000 {idiv} n AS BIGINT) AS acc_ppm,
         CAST(loss_sum {idiv} n AS BIGINT) AS loss_micro
  FROM a{it}, {prev}
), wstep{it} AS (
  SELECT w0, w1, w2 FROM r{it}
)""")
    picks = "\nUNION ALL ".join(
        f"SELECT iter, w0 AS w0_micro, w1 AS w1_micro, w2 AS w2_micro,"
        f" acc_ppm, loss_micro FROM r{it}"
        for it in range(1, _LR_ITERS + 1)
    )
    return f"WITH {','.join(parts)}\n{picks}\nORDER BY iter"


# ---------------------------------------------------------------------------
# NDCG@k
# ---------------------------------------------------------------------------

_NDCG_K = 5


# Per-position DCG terms are floored to integer micros individually,
# then integer-summed: float addition order (which differs between
# engines and between Spark partitionings) can never flip the result.
_NDCG_CORE = f"""
WITH g AS (
  SELECT l_orderkey AS okey, COUNT(*) AS gain FROM {{lineitem}}
  GROUP BY l_orderkey
), r AS (
  SELECT o.o_custkey AS cust,
         COALESCE(g.gain, 0) AS gain,
         ROW_NUMBER() OVER (PARTITION BY o.o_custkey
                            ORDER BY o.o_totalprice DESC, o.o_orderkey)
           AS pos,
         ROW_NUMBER() OVER (PARTITION BY o.o_custkey
                            ORDER BY COALESCE(g.gain, 0) DESC, o.o_orderkey)
           AS ideal_pos
  FROM {{orders}} o LEFT JOIN g ON g.okey = o.o_orderkey
), terms AS (
  SELECT cust,
         SUM(CASE WHEN pos <= {_NDCG_K}
             THEN CAST(floor(CAST(gain AS DOUBLE) * 1000000
                             / log2(pos + 1)) AS BIGINT)
             ELSE 0 END) AS dcg_micro,
         SUM(CASE WHEN ideal_pos <= {_NDCG_K}
             THEN CAST(floor(CAST(gain AS DOUBLE) * 1000000
                             / log2(ideal_pos + 1)) AS BIGINT)
             ELSE 0 END) AS idcg_micro
  FROM r GROUP BY cust
), nd AS (
  SELECT cust, dcg_micro * 1000000 {{idiv}} idcg_micro AS ndcg_micro
  FROM terms WHERE idcg_micro > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(ndcg_micro) {{idiv}} COUNT(*) AS BIGINT)
         AS mean_ndcg_micro,
       CAST(MIN(ndcg_micro) AS BIGINT) AS min_ndcg_micro,
       CAST(SUM(CASE WHEN ndcg_micro = 1000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_perfect
FROM nd
"""


#   * ``ml_ndcg_at_k`` — ranking quality: NDCG@5 of the
#     price-descending order ranking per customer against a
#     lineitem-count relevance gain, every per-position term floored
#     to integer micros BEFORE summation so the DCG is
#     order-of-addition independent.
#
# All four share one SQL core per operator with placeholder-swapped
# table names / integer-division spelling, so every float operation
# shape (and therefore every IEEE rounding) is identical between the
# Spark plan and the DuckDB oracle; accumulations happen on integers.
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of the price-ranked order list per customer, gain =
    lineitem count. One shuffle builds per-order gains, one more
    ranks within customer (both windows share the o_custkey
    partitioning, so Catalyst plans ONE exchange for the pair);
    the final mean is a scalar aggregate. Per-position terms are
    integer micros (see module docstring) so the metric is exact
    and partitioning-independent — at 100 TB this is a
    groupBy(order) + window(customer) pipeline, no all-pairs
    anything."""
    return bind_sql(
        spark,
        _NDCG_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
        idiv="DIV",
    )


_NDCG_DUCK = _NDCG_CORE.format(
    orders="orders", lineitem="lineitem", idiv="//"
)


# ---------------------------------------------------------------------------
# Cohen's kappa
# ---------------------------------------------------------------------------

_KAPPA_CHARS = 300


_KAPPA_WORDS = 45


_KAPPA_CORE = f"""
WITH d AS (
  SELECT (n_chars >= {_KAPPA_CHARS}) AS a, ({{wc}} >= {_KAPPA_WORDS}) AS b
  FROM {{docs}}
), c AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN a THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN b THEN 1 ELSE 0 END) AS nb,
         SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS n11,
         SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS n00
  FROM d
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(n11 AS BIGINT) AS n_both_pos,
       CAST(n00 AS BIGINT) AS n_both_neg,
       CAST(floor(CAST(n11 + n00 AS DOUBLE) / n * 1000000) AS BIGINT)
         AS po_micro,
       CAST(floor((CAST(na AS DOUBLE) * nb
                   + CAST(n - na AS DOUBLE) * (n - nb))
                  / (CAST(n AS DOUBLE) * n) * 1000000) AS BIGINT)
         AS pe_micro,
       CAST(floor((CAST(n11 + n00 AS DOUBLE) / n
                   - (CAST(na AS DOUBLE) * nb
                      + CAST(n - na AS DOUBLE) * (n - nb))
                     / (CAST(n AS DOUBLE) * n))
                  / (1 - (CAST(na AS DOUBLE) * nb
                          + CAST(n - na AS DOUBLE) * (n - nb))
                         / (CAST(n AS DOUBLE) * n))
                  * 1000000) AS BIGINT) AS kappa_micro
FROM c
"""


#   * ``ml_cohens_kappa`` — inter-annotator agreement between two
#     rule-based document-quality annotators (char-length vs
#     word-count gates): observed/expected agreement and kappa from
#     one conditional-aggregate scan.
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document annotators
    (A: n_chars >= 300, B: word count >= 45). The whole statistic is
    five conditional sums in ONE map-combined scan; kappa is a
    fixed-shape float expression over those integers, floored to
    micros — the inter-annotator-agreement gate a labeling pipeline
    runs before trusting silver labels. pe < 1 is guaranteed
    whenever both annotators emit both classes (true at every
    fixture scale); a degenerate annotator would make kappa
    undefined in textbooks and NULL here, visible either way."""
    return bind_sql(
        spark,
        _KAPPA_CORE,
        docs=load_table(spark, sf_dir, "documents"),
        wc="size(filter(split(text, ' '), x -> x != ''))",
    )


_KAPPA_DUCK = _KAPPA_CORE.format(
    docs="documents",
    wc="len(list_filter(string_split(text, ' '), x -> x != ''))",
)


# ---------------------------------------------------------------------------
# Decision stump
# ---------------------------------------------------------------------------

_STUMP_BINS = 64


_STUMP_CORE = f"""
WITH f AS (
  SELECT {money_cents_sql('o_totalprice')} AS v,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM {{orders}}
), span AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi FROM f
), b AS (
  SELECT LEAST((v - lo) * {_STUMP_BINS} {{idiv}} GREATEST(hi - lo, 1),
               {_STUMP_BINS} - 1) AS bin, y, lo, hi
  FROM f CROSS JOIN span
), hist AS (
  SELECT bin, COUNT(*) AS n, SUM(y) AS pos,
         MIN(lo) AS lo, MIN(hi) AS hi
  FROM b GROUP BY bin
), cum AS (
  SELECT bin,
         SUM(n) OVER (ORDER BY bin) AS nl,
         SUM(pos) OVER (ORDER BY bin) AS posl,
         SUM(n) OVER () AS nt,
         SUM(pos) OVER () AS post,
         lo, hi
  FROM hist
), cand AS (
  SELECT bin AS cut_bin, nl, posl, nt - nl AS nr, post - posl AS posr,
         nt, post, lo, hi
  FROM cum WHERE nl > 0 AND nt - nl > 0
), scored AS (
  SELECT cut_bin, nl, nr, lo, hi,
         CAST(floor((CAST(nl AS DOUBLE) / nt
                     * (1 - (CAST(posl AS DOUBLE) / nl)
                           * (CAST(posl AS DOUBLE) / nl)
                         - (CAST(nl - posl AS DOUBLE) / nl)
                           * (CAST(nl - posl AS DOUBLE) / nl))
                     + CAST(nr AS DOUBLE) / nt
                     * (1 - (CAST(posr AS DOUBLE) / nr)
                           * (CAST(posr AS DOUBLE) / nr)
                         - (CAST(nr - posr AS DOUBLE) / nr)
                           * (CAST(nr - posr AS DOUBLE) / nr)))
                    * 1000000) AS BIGINT) AS gini_micro,
         CAST(floor((1 - (CAST(post AS DOUBLE) / nt)
                         * (CAST(post AS DOUBLE) / nt)
                       - (CAST(nt - post AS DOUBLE) / nt)
                         * (CAST(nt - post AS DOUBLE) / nt))
                    * 1000000) AS BIGINT) AS parent_gini_micro
  FROM cand
)
SELECT CAST(cut_bin AS BIGINT) AS cut_bin,
       CAST(lo + (cut_bin + 1) * (hi - lo)
              {{idiv}} {_STUMP_BINS} AS BIGINT) AS threshold_cents,
       CAST(nl AS BIGINT) AS n_left,
       CAST(nr AS BIGINT) AS n_right,
       gini_micro, parent_gini_micro
FROM scored
ORDER BY gini_micro, cut_bin LIMIT 1
"""


#   * ``ml_decision_stump`` — trains a depth-1 decision tree on
#     orders (label: finalized status, feature: total price) by
#     scanning 64 equi-width candidate cuts built from ONE histogram
#     pass + a cumulative window; picks the weighted-Gini-minimal
#     split. The classic "can the engine train a model without
#     leaving SQL" shape.
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-1 decision tree on orders: label = finalized status,
    feature = total price in cents. The feature range comes from a
    1-row scalar aggregate (crossJoined, no collect); rows bin into
    64 equi-width integer buckets in one scan; a cumulative window
    over the 64-row histogram yields every candidate split's
    left/right class counts at once — evaluating 64 cuts costs one
    histogram, not 64 scans. lo/hi ride through the histogram as
    MIN-carried columns so the span relation is referenced exactly
    once: orders is scanned twice total (span aggregate + binning),
    both column-pruned to 2 columns — at 100 TB re-reading a pruned
    scan beats caching the row-level projection. That is exactly how
    distributed GBDT
    libraries (XGBoost/LightGBM histogram mode) pick splits, so the
    shape scales to any row count: the only full-data work is the
    binning scan; everything after is 64 rows."""
    return bind_sql(
        spark,
        _STUMP_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        idiv="DIV",
    )


_STUMP_DUCK = _STUMP_CORE.format(orders="orders", idiv="//")


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes (train + holdout confusion matrix)
# ---------------------------------------------------------------------------

_NB_CORE = """
WITH train AS (
  SELECT lang, token, m FROM {tokc} WHERE doc_id % 5 != 0
), ctl AS (
  SELECT lang, token, SUM(m) AS c FROM train GROUP BY lang, token
), cl AS (
  SELECT lang, SUM(m) AS tot FROM train GROUP BY lang
), v AS (
  SELECT COUNT(DISTINCT token) AS vsz FROM train
), prior AS (
  SELECT lang, COUNT(DISTINCT doc_id) AS nd FROM {tokc}
  WHERE doc_id % 5 != 0 GROUP BY lang
), priort AS (
  SELECT lang, nd, SUM(nd) OVER () AS ndt FROM prior
), linfo AS (
  SELECT p.lang,
         CAST(floor(ln(CAST(p.nd AS DOUBLE) / p.ndt) * 1000000)
              AS BIGINT) AS prior_micro,
         CAST(floor(ln(1.0 / (CAST(cl.tot AS DOUBLE) + v.vsz)) * 1000000)
              AS BIGINT) AS def_micro
  FROM priort p JOIN cl ON cl.lang = p.lang CROSS JOIN v
), lp AS (
  SELECT ctl.lang, ctl.token,
         CAST(floor(ln((CAST(ctl.c AS DOUBLE) + 1)
                       / (CAST(cl.tot AS DOUBLE) + v.vsz)) * 1000000)
              AS BIGINT) AS lp_micro
  FROM ctl JOIN cl ON cl.lang = ctl.lang CROSS JOIN v
), test AS (
  SELECT doc_id, lang AS true_lang, token, m FROM {tokc}
  WHERE doc_id % 5 = 0
), scored AS (
  SELECT t.doc_id, t.true_lang, l.lang AS cand,
         l.prior_micro + SUM(t.m * COALESCE(s.lp_micro, l.def_micro))
           AS score_micro
  FROM test t CROSS JOIN linfo l
  LEFT JOIN lp s ON s.lang = l.lang AND s.token = t.token
  GROUP BY t.doc_id, t.true_lang, l.lang, l.prior_micro
), pred AS (
  SELECT doc_id, true_lang, cand,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_micro DESC, cand) AS rn
  FROM scored
)
SELECT true_lang, cand AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY true_lang, cand
ORDER BY true_lang, pred_lang
"""


#   * ``ml_naive_bayes_lang`` — trains a multinomial Naive Bayes
#     language classifier on an 80% hash split of the documents
#     corpus (Laplace +1), scores the 20% holdout in integer
#     micro-nats, and returns the confusion matrix. The corpus is
#     tokenized exactly ONCE into a persisted (doc, lang, token,
#     count) relation; all five training aggregates and the scoring
#     join derive from it.
def ml_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and
    evaluated in one plan. doc_id % 5 hash-splits 80/20; training is
    three aggregates over a persisted (doc, lang, token, count)
    relation (the corpus tokenizes exactly once — expressing it as a
    CTE would re-explode per reference, the measured trap the DSIR
    plan documents); scoring left-joins holdout token counts against
    the (lang, token) log-likelihood table — a shuffle on token, the
    NB-scoring shape that scales because documents never move, only
    (token, count) pairs do. Per-token log-probs are floored to
    integer micro-nats before the weighted sum, so scores (and the
    argmax) are exact and addition-order independent. Output is the
    holdout confusion matrix."""
    # Round 11: the (doc, lang, token, m) relation is session-shared
    # (the copurchase_pairs discipline — keyed by applicationId,
    # rebuilt from parquet every run, first consumer pays the build
    # inside its own timed region) instead of re-tokenizing per
    # call; its rows are a deterministic per-row explode + count, so
    # the cached copy is value-identical to the inline form.
    def build():
        docs = load_table(spark, sf_dir, "documents")
        tok = docs.select(
            "doc_id",
            "lang",
            F.explode(
                F.expr("filter(split(text, ' '), x -> x != '')")
            ).alias("token"),
        )
        return tok.groupBy("doc_id", "lang", "token").agg(
            F.count("*").alias("m")
        )

    return bind_sql(
        spark, _NB_CORE, tokc=shared(spark, sf_dir, "nb_tokc", build)
    )


_NB_DUCK = _NB_CORE.format(tokc="nb_tokc").replace(
    "WITH train AS (",
    """WITH nb_tokc AS (
  SELECT doc_id, lang, token, COUNT(*) AS m
  FROM (SELECT doc_id, lang,
               unnest(list_filter(string_split(text, ' '),
                                  x -> x != '')) AS token
        FROM documents)
  GROUP BY doc_id, lang, token
), train AS (""",
    1,
)


_BINS = 64


_ROUNDS = 3


def _binned_orders(spark: SparkSession, sf_dir: str):
    """(bin, n, sY) histogram of order totalprice cents over the
    order-date day index — one distributed scan, <= 64 rows (bin is
    never NULL: LEAST/GREATEST skip NULL operands in both engines, so
    a NULL day index pins to bin 63)."""
    f = load_table(spark, sf_dir, "orders").select(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("bigint")
        .alias("d"),
        money_cents("o_totalprice").alias("y"),
    )
    span = f.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    b = f.crossJoin(F.broadcast(span)).select(
        F.expr(
            f"LEAST((d - lo) * {_BINS} DIV GREATEST(hi - lo, 1), {_BINS} - 1)"
        ).alias("bin"),
        "y",
    )
    return b.groupBy("bin").agg(F.count("*").alias("n"), F.sum("y").alias("sY"))


_GBDT_HIST_DUCK = f"""
WITH f AS (
  SELECT CAST(datediff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
         {money_cents_sql('o_totalprice')} AS y
  FROM orders
), span AS (
  SELECT MIN(d) AS lo, MAX(d) AS hi FROM f
), b AS (
  SELECT LEAST((d - lo) * {_BINS} // GREATEST(hi - lo, 1),
               {_BINS} - 1) AS bin, y
  FROM f CROSS JOIN span
), hist0 AS (
  SELECT bin, COUNT(*) AS n, SUM(y) AS sY FROM b GROUP BY bin
)"""


def _gbdt_rounds(hist0: str) -> str:
    """CTE chain: cum_r -> best_r -> hist_r, r = 1.._ROUNDS, over a
    64-row relation. Leaves are floor(double) cents; the split score
    maximizes sl^2/nl + sr^2/nr (the exact SSE-reduction order)."""
    ctes = []
    prev = hist0
    for r in range(1, _ROUNDS + 1):
        ctes.append(f"""cum{r} AS (
  SELECT bin, SUM(n) OVER (ORDER BY bin) AS nl,
         SUM(sY) OVER (ORDER BY bin) AS sl,
         SUM(n) OVER () AS nt, SUM(sY) OVER () AS st
  FROM {prev}
), best{r} AS (
  SELECT bin AS cut, nl, nt - nl AS nr,
         CAST(floor(CAST(sl AS DOUBLE) / nl) AS BIGINT) AS leafl,
         CAST(floor(CAST(st - sl AS DOUBLE) / (nt - nl)) AS BIGINT)
           AS leafr
  FROM cum{r} WHERE nl > 0 AND nt - nl > 0
  ORDER BY CAST(sl AS DOUBLE) * sl / nl
           + CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl) DESC, bin
  LIMIT 1
), hist{r} AS (
  SELECT h.bin, h.n,
         h.sY - h.n * (CASE WHEN h.bin <= b.cut THEN b.leafl
                            ELSE b.leafr END) AS sY
  FROM {prev} h CROSS JOIN best{r} b
)""")
        prev = f"hist{r}"
    finals = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, CAST(cut AS BIGINT) AS cut_bin,"
        f" CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,"
        f" leafl AS leaf_left_cents, leafr AS leaf_right_cents FROM best{r}"
        for r in range(1, _ROUNDS + 1)
    )
    return ", ".join(ctes) + "\n" + finals + "\nORDER BY round"


#   * ``ml_gbdt_boosted_stumps`` — 3 unrolled rounds of least-squares
#     gradient boosting with depth-1 trees over a 64-bin feature
#     histogram. After ONE binning scan, every round (split search +
#     residual update) runs on the persisted 64-row histogram: the
#     per-bin residual sum is linear in the leaf constants, so
#     boosting never revisits the data — the LightGBM histogram trick
#     taken to its logical end for stumps.
#
# Determinism contract: leaf values use explicit floor(double)
# division (NOT `DIV`/`//`, which disagree on negatives — Spark
# truncates toward zero, DuckDB floors; residuals go negative from
# round 2); split scores are fixed-shape doubles shared textually by
# both engines with a bin-ascending tie-break.
def ml_gbdt_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round least-squares boosted stumps on order totalprice over
    the order-date axis. One scan bins the data; the 64-row histogram
    carries (bin, n, residual-sum), and because a stump's prediction
    is constant per side, each round's residual update is pure
    integer arithmetic ON THE HISTOGRAM — rounds cost 64 rows each
    regardless of table size, which is why histogram GBDT scales.
    Output: each round's cut, sizes and integer-cent leaves. Every
    number is exact (see module determinism contract).

    The histogram is bounded by the bin constant (<= 64 rows at ANY
    fact volume), so the three boosting rounds run driver-side (guide
    §1.2/§5): the old unrolled cum->best->hist CTE chain referenced
    each round's output twice, doubling the plan per round and
    scheduling ~22 tiny stage-jobs of pure coordination. Replication
    is exact: the split score keeps the SQL's float64 operation order
    (CAST(sl AS DOUBLE) * sl / nl left-to-right), leaves floor a
    float64 quotient, SUM-over-prefix is NULL until the first
    non-NULL residual sum (reachable only on hostile money), the
    DESC sort places NULL scores last like Spark, and an empty best
    relation empties every later round exactly like the CROSS JOIN
    did. Oracle parity at two SFs plus the hostile/NULL/empty nets
    and the pure-Python third implementation prove the replication."""
    # bounded collect: <= _BINS rows at any scale (bin is never NULL)
    hist = {
        r["bin"]: (r["n"], r["sY"])
        for r in _binned_orders(spark, sf_dir).collect()
    }
    schema = (
        "round bigint, cut_bin bigint, n_left bigint, n_right bigint, "
        "leaf_left_cents bigint, leaf_right_cents bigint"
    )
    n = {b: v[0] for b, v in hist.items()}
    sY = {b: v[1] for b, v in hist.items()}
    out = []
    for rnd in range(1, _ROUNDS + 1):
        bins = sorted(n)
        nt = sum(n.values())
        st_vals = [v for v in sY.values() if v is not None]
        st = sum(st_vals) if st_vals else None
        best = None  # (sortkey, cut, nl, nr, sl, sr)
        nl = 0
        sl = None
        for b in bins:
            nl += n[b]
            if sY[b] is not None:
                sl = (sl or 0) + sY[b]
            if not (nl > 0 and nt - nl > 0):
                continue
            if sl is None or st is None:
                score, sr = None, None
            else:
                sr = st - sl
                score = (
                    float(sl) * sl / nl + float(sr) * sr / (nt - nl)
                )
            # ORDER BY score DESC (NULLS LAST), bin ASC
            key = (1, 0.0, b) if score is None else (0, -score, b)
            if best is None or key < best[0]:
                best = (key, b, nl, nt - nl, sl, sr)
        if best is None:
            break  # empty best -> every later round's CROSS JOIN is empty
        _, cut, bnl, bnr, bsl, bsr = best
        leafl = (
            None if bsl is None else int(math.floor(float(bsl) / bnl))
        )
        leafr = (
            None if bsr is None else int(math.floor(float(bsr) / bnr))
        )
        out.append((rnd, cut, bnl, bnr, leafl, leafr))
        for b in bins:
            leaf = leafl if b <= cut else leafr
            sY[b] = (
                None
                if sY[b] is None or leaf is None
                else sY[b] - n[b] * leaf
            )
    return spark.createDataFrame(out, schema)


_GBDT_DUCK = _GBDT_HIST_DUCK + ", " + _gbdt_rounds("hist0")


# ---------------------------------------------------------------------------
# Learning curve
# ---------------------------------------------------------------------------

_LC_FRACS = (1, 2, 4)  # hash buckets 1..k train; bucket 0 is holdout


def _lc_hist_spark(spark: SparkSession, sf_dir: str):
    f = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 5).alias("g"),
        money_cents("o_totalprice").alias("v"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    span = f.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    b = f.crossJoin(F.broadcast(span)).select(
        "g",
        "y",
        F.expr(
            f"LEAST((v - lo) * {_BINS} DIV GREATEST(hi - lo, 1), {_BINS} - 1)"
        ).alias("bin"),
    )
    aggs = [F.count("*").alias("n_all")]
    for k in _LC_FRACS:
        aggs.append(
            F.sum(F.expr(f"CASE WHEN g >= 1 AND g <= {k} THEN 1 ELSE 0 END"))
            .alias(f"n{k}")
        )
        aggs.append(
            F.sum(F.expr(f"CASE WHEN g >= 1 AND g <= {k} THEN y ELSE 0 END"))
            .alias(f"p{k}")
        )
    aggs.append(F.sum(F.expr("CASE WHEN g = 0 THEN 1 ELSE 0 END")).alias("hn"))
    aggs.append(F.sum(F.expr("CASE WHEN g = 0 THEN y ELSE 0 END")).alias("hp"))
    return b.groupBy("bin").agg(*aggs)


def _lc_hist_duck() -> str:
    conds = []
    for k in _LC_FRACS:
        conds.append(
            f"SUM(CASE WHEN g >= 1 AND g <= {k} THEN 1 ELSE 0 END) AS n{k},\n"
            f"  SUM(CASE WHEN g >= 1 AND g <= {k} THEN y ELSE 0 END) AS p{k}"
        )
    return f"""
WITH f AS (
  SELECT o_orderkey % 5 AS g,
         {money_cents_sql('o_totalprice')} AS v,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), span AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi FROM f
), b AS (
  SELECT g, y, LEAST((v - lo) * {_BINS} // GREATEST(hi - lo, 1),
               {_BINS} - 1) AS bin
  FROM f CROSS JOIN span
), hist AS (
  SELECT bin, COUNT(*) AS n_all, {', '.join(conds)},
  SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS hn,
  SUM(CASE WHEN g = 0 THEN y ELSE 0 END) AS hp
  FROM b GROUP BY bin
)"""


def _lc_rounds(hist: str) -> str:
    """Per fraction k: windowed split search on (n{k}, p{k}) by Gini,
    then holdout misclassification of the chosen stump, evaluated by
    joining the best cut back against the same histogram."""
    ctes, selects = [], []
    for k in _LC_FRACS:
        ctes.append(f"""cum{k} AS (
  SELECT bin, SUM(n{k}) OVER (ORDER BY bin) AS nl,
         SUM(p{k}) OVER (ORDER BY bin) AS posl,
         SUM(n{k}) OVER () AS nt, SUM(p{k}) OVER () AS post
  FROM {hist}
), best{k} AS (
  SELECT bin AS cut, nl, posl, nt - nl AS nr, post - posl AS posr, nt
  FROM cum{k} WHERE nl > 0 AND nt - nl > 0
  ORDER BY CAST(nl AS DOUBLE) / nt
             * (1 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                  - (CAST(nl - posl AS DOUBLE) / nl)
                    * (CAST(nl - posl AS DOUBLE) / nl))
           + CAST(nt - nl AS DOUBLE) / nt
             * (1 - (CAST(post - posl AS DOUBLE) / (nt - nl))
                    * (CAST(post - posl AS DOUBLE) / (nt - nl))
                  - (CAST((nt - nl) - (post - posl) AS DOUBLE) / (nt - nl))
                    * (CAST((nt - nl) - (post - posl) AS DOUBLE) / (nt - nl)))
           ASC, bin
  LIMIT 1
), eval{k} AS (
  SELECT b.cut, b.nt,
         SUM(CASE WHEN h.bin <= b.cut THEN h.hn ELSE 0 END) AS hnl,
         SUM(CASE WHEN h.bin <= b.cut THEN h.hp ELSE 0 END) AS hpl,
         SUM(CASE WHEN h.bin > b.cut THEN h.hn ELSE 0 END) AS hnr,
         SUM(CASE WHEN h.bin > b.cut THEN h.hp ELSE 0 END) AS hpr,
         MIN(b.posl) AS posl, MIN(b.nl) AS nl,
         MIN(b.posr) AS posr, MIN(b.nr) AS nr
  FROM {hist} h CROSS JOIN best{k} b
  GROUP BY b.cut, b.nt
)""")
        # leaf label = majority class on the TRAIN side (2*pos > n);
        # holdout error counts the minority class of each side
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS train_buckets,"
            f" CAST(nt AS BIGINT) AS train_n,"
            f" CAST(cut AS BIGINT) AS cut_bin,"
            f" CAST(hnl + hnr AS BIGINT) AS holdout_n,"
            f" CAST((CASE WHEN 2 * posl > nl THEN hnl - hpl ELSE hpl END"
            f" + CASE WHEN 2 * posr > nr THEN hnr - hpr ELSE hpr END)"
            f" * 1000000 {{idiv}} (hnl + hnr) AS BIGINT)"
            f" AS holdout_err_ppm FROM eval{k}"
        )
    return (
        ", ".join(ctes)
        + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY train_buckets"
    )


#   * ``ml_learning_curve`` — does more data help? Trains the same
#     stump on nested 20%/40%/80% hash-split fractions and scores each
#     on the SAME held-out 20%, all from one conditional histogram
#     pass. The sample-efficiency question every data-curation loop
#     asks, answered in one scan.
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve for the finalized-status stump: train on nested
    1/2/4-bucket hash fractions (20/40/80% of orders), evaluate each
    on the same held-out bucket 0. ONE conditional-histogram scan
    feeds all three split searches AND the holdout scoring (the
    holdout's per-bin class counts ride in the same 64 rows), so the
    whole curve costs one pass + work on 64 rows — the 'will more
    data move the metric' answer a curation loop needs before paying
    for more data. Holdout labels never leak into training: leaf
    labels come from train-side majorities only.

    Like ml_gbdt_boosted_stumps, the three split searches + holdout
    scoring run driver-side over the <= 64-row bounded histogram
    (guide §1.2/§5; the old per-fraction cum->best->eval CTE chain
    scheduled ~23 tiny jobs). Replication is exact: Gini keeps the
    SQL's float64 operation order, the ASC sort ties on bin, a
    fraction with no valid split emits no row (the SQL's empty-best
    GROUP BY), NULL-bin rows cannot occur (LEAST/GREATEST skip NULL
    operands, pinning NULL cents to bin 63), and the ppm division
    mirrors Spark's NULL-on-zero-divisor DIV. Proven by oracle parity
    at two SFs, the hostile/NULL/empty nets, and the pure-Python
    third implementation in tests/test_round5_batch29.py."""
    # bounded collect: <= _BINS rows at any scale (bin is never NULL)
    rows = _lc_hist_spark(spark, sf_dir).collect()
    schema = (
        "train_buckets bigint, train_n bigint, cut_bin bigint, "
        "holdout_n bigint, holdout_err_ppm bigint"
    )
    out = []
    bins = sorted(r["bin"] for r in rows)
    byb = {r["bin"]: r for r in rows}
    for k in _LC_FRACS:
        nt = sum(byb[b][f"n{k}"] for b in bins)
        post = sum(byb[b][f"p{k}"] for b in bins)
        best = None  # (sortkey, cut, nl, posl)
        nl = posl = 0
        for b in bins:
            nl += byb[b][f"n{k}"]
            posl += byb[b][f"p{k}"]
            if not (nl > 0 and nt - nl > 0):
                continue
            # the SQL's exact float64 shape, left-to-right
            score = (
                float(nl) / nt
                * (
                    1
                    - (float(posl) / nl) * (float(posl) / nl)
                    - (float(nl - posl) / nl) * (float(nl - posl) / nl)
                )
                + float(nt - nl) / nt
                * (
                    1
                    - (float(post - posl) / (nt - nl))
                    * (float(post - posl) / (nt - nl))
                    - (float((nt - nl) - (post - posl)) / (nt - nl))
                    * (float((nt - nl) - (post - posl)) / (nt - nl))
                )
            )
            key = (score, b)  # ORDER BY score ASC, bin ASC
            if best is None or key < best[0]:
                best = (key, b, nl, posl)
        if best is None:
            continue  # empty best{k}: the eval GROUP BY emits no row
        _, cut, bnl, bposl = best
        bnr, bposr = nt - bnl, post - bposl
        hnl = sum(byb[b]["hn"] for b in bins if b <= cut)
        hpl = sum(byb[b]["hp"] for b in bins if b <= cut)
        hnr = sum(byb[b]["hn"] for b in bins if b > cut)
        hpr = sum(byb[b]["hp"] for b in bins if b > cut)
        err_num = (hnl - hpl if 2 * bposl > bnl else hpl) + (
            hnr - hpr if 2 * bposr > bnr else hpr
        )
        denom = hnl + hnr
        # Spark DIV returns NULL on a zero divisor; operands are
        # non-negative so floor-div equals truncating DIV here
        err = None if denom == 0 else err_num * 1_000_000 // denom
        out.append((k, nt, cut, denom, err))
    return spark.createDataFrame(out, schema)


_LC_DUCK = (_lc_hist_duck() + ", " + _lc_rounds("hist")).format(idiv="//")


# ---------------------------------------------------------------------------
# Power analysis
# ---------------------------------------------------------------------------

_PA_Z_ALPHA = 1.959963984540054  # Phi^-1(0.975), two-sided alpha 0.05


_PA_Z_BETA = 0.8416212335729143  # Phi^-1(0.8), power 0.8


_PA_ZSUM2_MICRO = math.floor((_PA_Z_ALPHA + _PA_Z_BETA) ** 2 * 1_000_000)


_PA_LIFT_MICRO = 20_000  # detect an absolute 2% conversion lift


_POWER_CORE = f"""
WITH s AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k,
         COUNT(DISTINCT user_id) AS users,
         MAX({{epoch_us}}) - MIN({{epoch_us}}) AS span_us
  FROM {{events}}
), p AS (
  SELECT n, k, users, span_us,
         CAST(k AS DOUBLE) / n AS phat
  FROM s
)
SELECT CAST(n AS BIGINT) AS n_events,
       CAST(k AS BIGINT) AS n_conversions,
       CAST(floor(phat * 1000000) AS BIGINT) AS p_micro,
       CAST(floor(2 * phat * (1 - phat)
                  * {_PA_ZSUM2_MICRO} / 1000000.0
                  / ({_PA_LIFT_MICRO} / 1000000.0)
                  / ({_PA_LIFT_MICRO} / 1000000.0)) AS BIGINT)
         AS n_per_arm,
       CAST(floor(CAST(users AS DOUBLE) * 86400000000 / span_us)
            AS BIGINT) AS users_per_day,
       CAST(floor((2 * phat * (1 - phat)
                   * {_PA_ZSUM2_MICRO} / 1000000.0
                   / ({_PA_LIFT_MICRO} / 1000000.0)
                   / ({_PA_LIFT_MICRO} / 1000000.0)) * 2
                  / (CAST(users AS DOUBLE) * 86400000000 / span_us))
            AS BIGINT) AS days_needed
FROM p
"""


#   * ``ml_power_analysis`` — the question every A/B test starts with:
#     how many users per arm (and how many days of traffic) to detect
#     a 2% lift in purchase conversion at alpha = 0.05 / power = 0.8?
#     Variance comes from the observed conversion rate in one exact
#     integer scan; the z quantiles are precomputed module literals
#     (no cross-engine inverse-normal), and the answer includes the
#     run-length forecast from the observed daily user arrival rate.
def ml_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion sample-size calculation from observed traffic:
    n_per_arm = 2 p(1-p) (z_a + z_b)^2 / delta^2 with the z-sum
    precomputed as an integer micro literal (both engines consume the
    same constant — no inverse-normal in SQL), p from one exact
    conditional-sum scan, and days_needed from the observed distinct
    -user arrival rate over the event-time span. ONE scan; the
    planning query an experimentation platform runs before flipping
    any flag, and the natural companion to `events_ab_test_lift`
    (measures after) and `events_sprt_ab_test` (stops early)."""
    return bind_sql(
        spark,
        _POWER_CORE,
        events=load_table(spark, sf_dir, "events"),
        epoch_us="unix_micros(ts)",
    )


_POWER_DUCK = _POWER_CORE.format(events="events", epoch_us="epoch_us(ts)")


# ---------------------------------------------------------------------------
# Pinball quantile loss
# ---------------------------------------------------------------------------

_PINBALL_CORE = f"""
WITH cents AS (
  -- bounded balance (round-10 layer 2): the tau-weighted residual on
  -- a castable absurd value overflows INT64; NULL x has no rank
  SELECT segment, x FROM (
    SELECT c_mktsegment AS segment,
           {money_rounded_sql('c_acctbal')} AS x
    FROM {{customer}}
  ) WHERE x IS NOT NULL
), ranked AS (
  SELECT segment, x,
         ROW_NUMBER() OVER (PARTITION BY segment ORDER BY x) AS rn,
         COUNT(*) OVER (PARTITION BY segment) AS n
  FROM cents
), taus AS (
  {{taus}}
), qs AS (
  SELECT r.segment, t.tau, r.x AS q, r.n
  FROM ranked r JOIN taus t
    ON r.rn = (t.tau * r.n + 9) {{idiv}} 10
)
SELECT q.segment AS segment,
       CAST(q.tau AS BIGINT) AS tau_deci,
       CAST(q.q AS BIGINT) AS q_cents,
       CAST(MAX(q.n) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN c.x >= q.q THEN q.tau * (c.x - q.q)
                     ELSE (10 - q.tau) * (q.q - c.x) END) AS BIGINT)
         AS pinball_loss_deci_cents
FROM qs q JOIN cents c ON c.segment = q.segment
GROUP BY q.segment, q.tau, q.q
ORDER BY segment, tau_deci
"""


#   * ``ml_pinball_quantile_eval`` — pinball (quantile) loss of the
#     per-segment empirical-quantile predictor at τ ∈ {0.1,0.5,0.9};
#     order-statistic quantiles by integer-ceil rank, loss in exact
#     deci-cents.
def ml_pinball_quantile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball loss of the per-segment empirical-quantile predictor
    at τ ∈ {0.1, 0.5, 0.9} on customer balances — the evaluation
    metric for quantile regressors, computed against the exact
    order-statistic quantile (rank ⌈τ·n⌉ via pure integer ceil, so
    no interpolation-definition drift between engines) in exact
    deci-cents.  One window rank + one segment-joined aggregation;
    at 100 TB the quantile side is segment-count-sized and
    broadcast back onto the fact scan."""
    return bind_sql(
        spark,
        _PINBALL_CORE,
        customer=load_table(spark, sf_dir, "customer"),
        taus="SELECT * FROM VALUES (1), (5), (9) AS t(tau)",
        idiv="DIV",
    )


_PINBALL_DUCK = _PINBALL_CORE.format(
    customer="customer",
    taus="SELECT * FROM (VALUES (1), (5), (9)) AS t(tau)",
    idiv="//",
)


# ---------------------------------------------------------------------------
# Permutation importance
# ---------------------------------------------------------------------------

_PERMIMP_CORE = """
WITH base AS (
  -- bounded cents + NOT NULL (round-10 layer 2): a NULL feature has
  -- no rank (engine NULL ordering differs) and the hash-permutation
  -- tiebreak includes x so a DUPLICATE orderkey (same md5, same key)
  -- still pairs deterministically in both engines
  SELECT ok, x, y FROM (
    SELECT o_orderkey AS ok,
           """ + money_rounded_sql("o_totalprice") + """ AS x,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
    FROM {orders}
  ) WHERE x IS NOT NULL
), ranked AS (
  SELECT ok, x, y,
         ROW_NUMBER() OVER (ORDER BY x, ok, y) AS rx,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(ok AS {str})), ok, x, y)
           AS rh,
         COUNT(*) OVER () AS n
  FROM base
), th AS (
  SELECT x AS t FROM ranked WHERE rx = (n + 1) {idiv} 2
), paired AS (
  SELECT a.y, a.x AS x_true, b.x AS x_perm
  FROM ranked a JOIN ranked b ON b.rh = a.n + 1 - a.rh
), acc AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN (x_true >= t) = (y = 1) THEN 1 ELSE 0 END)
           AS ok_base,
         SUM(CASE WHEN (x_perm >= t) = (y = 1) THEN 1 ELSE 0 END)
           AS ok_perm
  FROM paired CROSS JOIN th
)
SELECT CAST(n AS BIGINT) AS n,
       CAST((SELECT t FROM th) AS BIGINT) AS threshold_cents,
       CAST(1000000 * ok_base {idiv} n AS BIGINT) AS acc_base_ppm,
       CAST(1000000 * ok_perm {idiv} n AS BIGINT) AS acc_perm_ppm,
       CAST(1000000 * ok_base {idiv} n
            - 1000000 * ok_perm {idiv} n AS BIGINT) AS importance_ppm
FROM acc
"""


#   * ``ml_permutation_importance`` — accuracy drop of a median-split
#     stump when the feature column is decoupled from labels by a
#     DETERMINISTIC md5-rank reversal (hash order is independent of
#     both feature and label, so the reversed pairing is a valid
#     permutation draw that both engines construct bit-identically).
def ml_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation importance of order value for predicting
    finalized status under a median-split stump: baseline accuracy
    vs accuracy after the feature column is re-paired with labels by
    REVERSING the md5-hash rank order — a deterministic permutation
    independent of both feature and label that both engines build
    bit-identically (no RNG, no seed drift).  The importance is the
    exact ppm accuracy drop.  The two global ranks are the
    documented single-partition demo shape; the production form
    partitions the rank by a salt exactly as `global_rank` does."""
    return bind_sql(
        spark,
        _PERMIMP_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        str="STRING",
        idiv="DIV",
    )


_PERMIMP_DUCK = _PERMIMP_CORE.format(
    orders="orders", str="VARCHAR", idiv="//"
)


# ---------------------------------------------------------------------------
# Brier decomposition
# ---------------------------------------------------------------------------

# Value-domain bound (contract.VALUE_DOMAIN_SQL, pinned by
# tests/test_contract_hygiene.py): keeps the cents x2500 ppm product
# exact INT64 in both engines — DuckDB throws on BIGINT overflow where
# Spark wraps (round-8 probe).
_BRIER_CORE = """
WITH v AS (
  SELECT least(TRY_CAST(round(value * 100) AS BIGINT) * 2500, 1000000)
           AS p_ppm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM {events}
  WHERE value BETWEEN -1.0e12 AND 1.0e12  -- scan-pushdown half
    AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
), g AS (
  SELECT COUNT(*) AS n, SUM(y) AS sy,
         SUM(CAST((p_ppm - y * 1000000) AS {big})
             * (p_ppm - y * 1000000)) AS sq
  FROM v
), b AS (
  SELECT least(p_ppm {idiv} 100000, 9) AS bin,
         COUNT(*) AS nk, SUM(p_ppm) AS sp, SUM(y) AS syk
  FROM v GROUP BY least(p_ppm {idiv} 100000, 9)
), terms AS (
  SELECT
    CAST(floor(nk * (CAST(sp AS DOUBLE) / nk
                     - CAST(syk AS DOUBLE) * 1000000 / nk)
                  * (CAST(sp AS DOUBLE) / nk
                     - CAST(syk AS DOUBLE) * 1000000 / nk)
               / 1000000) AS BIGINT) AS rel_t,
    CAST(floor(nk * (CAST(syk AS DOUBLE) * 1000000 / nk
                     - CAST(g.sy AS DOUBLE) * 1000000 / g.n)
                  * (CAST(syk AS DOUBLE) * 1000000 / nk
                     - CAST(g.sy AS DOUBLE) * 1000000 / g.n)
               / 1000000) AS BIGINT) AS res_t
  FROM b CROSS JOIN g
)
SELECT CAST(g.n AS BIGINT) AS n_events,
       CAST(g.sq {idiv} (g.n * 1000000) AS BIGINT) AS brier_ppm,
       CAST(SUM(rel_t) {idiv} g.n AS BIGINT) AS reliability_ppm,
       CAST(SUM(res_t) {idiv} g.n AS BIGINT) AS resolution_ppm,
       CAST(g.sy * (1000000 - g.sy * 1000000 {idiv} g.n) {idiv} g.n
            AS BIGINT) AS uncertainty_ppm,
       CAST(g.sq {idiv} (g.n * 1000000)
            - (SUM(rel_t) {idiv} g.n
               - SUM(res_t) {idiv} g.n
               + g.sy * (1000000 - g.sy * 1000000 {idiv} g.n) {idiv} g.n)
            AS BIGINT) AS decomposition_gap_ppm
FROM terms CROSS JOIN g
GROUP BY g.n, g.sy, g.sq
"""


#   * ``ml_brier_decomposition`` — Murphy's reliability / resolution /
#     uncertainty decomposition of the Brier score for the SAME
#     value-as-probability model `ml_calibration_bins` audits, plus
#     the raw Brier and the decomposition gap (within-bin variance +
#     flooring) as an honest residual column.
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (reliability −
    resolution + uncertainty) for the same value-as-probability
    model `ml_calibration_bins` audits, over the same ten bins.  The
    raw Brier comes from an exact integer sum of squared ppm errors;
    the per-bin reliability/resolution terms are one fixed-shape
    float each, floored to integer contributions BEFORE summing
    (order-immune), and the gap column reports the residual the
    within-bin variance and flooring leave — an honest decomposition
    rather than one forced to balance.  Two conditional-aggregate
    scans, then ten rows."""
    return bind_sql(
        spark,
        _BRIER_CORE,
        events=load_table(spark, sf_dir, "events"),
        big="DECIMAL(38,0)",
        idiv="DIV",
    )


_BRIER_DUCK = _BRIER_CORE.format(events="events", big="HUGEINT", idiv="//")


# ---------------------------------------------------------------------------
# Forecast error metrics
# ---------------------------------------------------------------------------

_FCERR_CORE = """
WITH daily AS (
  -- business-date validity (round-10 layer 2, caught by the sf0.01
  -- hostile sweep): a NULL/out-of-window day shifts the indexed
  -- series in one engine only (same class as ts_hurst_exponent)
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS y
  FROM {orders} WHERE """ + tpch_date_valid_sql("o_orderdate") + """
  GROUP BY CAST(o_orderdate AS DATE)
), idx AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily
), preds AS (
  SELECT 'naive_1' AS model, a.y, b.y AS yhat
  FROM idx a JOIN idx b ON b.i = a.i - 1
  UNION ALL
  SELECT 'seasonal_naive_7' AS model, a.y, b.y AS yhat
  FROM idx a JOIN idx b ON b.i = a.i - 7
), err AS (
  SELECT model, y, yhat, abs(y - yhat) AS ae,
         2000 * abs(y - yhat) {idiv} (y + yhat) AS smape_row_milli
  FROM preds
)
SELECT model,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(1000 * SUM(ae) {idiv} COUNT(*) AS BIGINT) AS mae_milli,
       CAST(SUM(smape_row_milli) {idiv} COUNT(*) AS BIGINT)
         AS smape_milli_intdef,
       CAST(floor(sqrt(CAST(SUM(CAST(ae AS DECIMAL(38,0)) * ae)
                            AS DOUBLE) / COUNT(*)) * 1000) AS BIGINT)
         AS rmse_milli
FROM err
GROUP BY model
ORDER BY model
"""


#   * ``ml_forecast_error_eval`` — MAE / sMAPE / RMSE of the naive-1
#     and seasonal-naive-7 forecasters on daily order counts: the
#     baseline every forecasting model must beat, with the integer
#     sMAPE definition documented in the column name.
def ml_forecast_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE, sMAPE and RMSE of the two baselines every forecaster
    must beat — naive-1 (yesterday) and seasonal-naive-7 (same
    weekday last week) — on daily order counts.  MAE and the
    integer-defined sMAPE (per-row 2000|e|/(y+ŷ) via integer
    division, as the column name says) are pure integers; RMSE is
    one fixed-shape float.  The daily relation is date-span-bounded,
    so the lag self-joins are bounded work after one map-combined
    groupBy."""
    return bind_sql(
        spark,
        _FCERR_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        idiv="DIV",
    )


_FCERR_DUCK = _FCERR_CORE.format(orders="orders", idiv="//")


# ---------------------------------------------------------------------------
# Hard-negative mining
# ---------------------------------------------------------------------------

_HNM_ANCHORS = 50


_HNM_CORE = f"""
WITH q AS (
  SELECT vec_id, label, {{quant}} AS qv FROM {{emb}} WHERE {{valid}}
), anchors AS (
  SELECT vec_id, label, qv FROM (
    SELECT vec_id, label, qv,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS {{str}})),
                              vec_id) AS rn
    FROM q
  ) WHERE rn <= {_HNM_ANCHORS}
), dots AS (
  SELECT a.vec_id AS aid, a.label AS alabel,
         b.vec_id AS bid, b.label AS blabel,
         {{dot}} AS dot
  FROM anchors a JOIN q b ON b.vec_id != a.vec_id
), best AS (
  SELECT aid, alabel,
         MAX(CASE WHEN blabel = alabel THEN dot END) AS pos_dot,
         MAX(CASE WHEN blabel != alabel THEN dot END) AS neg_dot
  FROM dots GROUP BY aid, alabel
), hardest AS (
  SELECT d.aid, MIN(d.bid) AS neg_id
  FROM dots d JOIN best b
    ON b.aid = d.aid AND d.blabel != b.alabel AND d.dot = b.neg_dot
  GROUP BY d.aid
)
SELECT b.aid AS anchor_id,
       CAST(b.alabel AS BIGINT) AS label,
       CAST(b.pos_dot AS BIGINT) AS best_pos_dot,
       CAST(b.neg_dot AS BIGINT) AS hardest_neg_dot,
       CAST(b.pos_dot - b.neg_dot AS BIGINT) AS margin,
       CAST(h.neg_id AS BIGINT) AS hardest_neg_id
FROM best b JOIN hardest h ON h.aid = b.aid
ORDER BY anchor_id
"""


_HNM_QUANT_SPARK = (
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000)"
    " AS BIGINT))"
)


_HNM_DOT_SPARK = (
    "aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y), 0L,"
    " (acc, v) -> acc + v)"
)


_HNM_QUANT_DUCK = (
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000)"
    " AS BIGINT))"
)


_HNM_DOT_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i])),"
    " (acc, x) -> acc + x)"
)


#   * ``ml_hard_negative_mining`` — for each anchor embedding, the
#     most similar WRONG-label vector (the hard negative contrastive
#     training wants) next to the best same-label positive and the
#     margin between them.  Vectors quantize to int64 milli-units so
#     every dot product is exact integer arithmetic; anchors are the
#     deterministic md5-capped sample.
def ml_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor
    (deterministic md5-capped sample of 50), the maximum-dot-product
    WRONG-label vector, the best same-label positive, and the
    pos−neg margin — negative margins are exactly the anchors a
    triplet loss would spend gradient on.  Embeddings quantize to
    int64 milli-units so every dot is exact integer arithmetic (ties
    broken by MIN vec_id, engine-exact).  The anchor×corpus dot
    relation is anchors·n rows — the capped-sample contract; at
    100 TB the candidate set comes from the IVF buckets
    (`sim_ivf_topk`) instead of the full corpus."""
    return bind_sql(
        spark,
        _HNM_CORE,
        emb=load_table(spark, sf_dir, "embeddings"),
        quant=_HNM_QUANT_SPARK,
        dot=_HNM_DOT_SPARK,
        str="STRING",
        valid="embedding IS NOT NULL AND NOT exists(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)",
    )


_HNM_DUCK = _HNM_CORE.format(
    emb="embeddings", quant=_HNM_QUANT_DUCK,
    dot=_HNM_DOT_DUCK, str="VARCHAR",
    valid="embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0",
)


# ---------------------------------------------------------------------------
# Embedding isotropy
# ---------------------------------------------------------------------------

_ISO_DIMS = 16


_ISO_CORE = f"""
WITH q AS (
  SELECT {{quant}} AS qv FROM {{emb}} WHERE {{valid}}
), pairs AS (
  SELECT i, j, qv[{{ix}}] * qv[{{jx}}] AS prod
  FROM q {{expand}}
), gram AS (
  SELECT i, j, SUM(prod) AS g FROM pairs GROUP BY i, j
), stats AS (
  SELECT SUM(CASE WHEN i = j THEN g ELSE 0 END) AS trace,
         SUM(CAST(g AS DECIMAL(38,0)) * g) AS fro2
  FROM gram
), mean_num AS (
  SELECT SUM(CAST(s AS DECIMAL(38,0)) * s) AS mean2_num
  FROM (
    SELECT i, SUM(qv[{{ix}}]) AS s
    FROM q {{expand_i}}
    GROUP BY i
  )
), n AS (
  SELECT COUNT(*) AS n FROM q
)
SELECT CAST(n.n AS BIGINT) AS n_vectors,
       CAST({_ISO_DIMS} AS BIGINT) AS n_dims,
       CAST(stats.trace AS BIGINT) AS trace,
       CAST(floor(CAST(stats.trace AS DOUBLE) * stats.trace
                  / CAST(stats.fro2 AS DOUBLE) * 1000) AS BIGINT)
         AS participation_ratio_milli,
       CAST((1000000 * mean_num.mean2_num
             - (1000000 * mean_num.mean2_num)
               % (n.n * CAST(stats.trace AS DECIMAL(38,0))))
            / (n.n * CAST(stats.trace AS DECIMAL(38,0)))
            AS BIGINT) AS mean_vector_share_ppm
FROM stats CROSS JOIN mean_num CROSS JOIN n
"""


#   * ``embed_isotropy_participation`` — participation ratio
#     (Σλ)²/Σλ² of the embedding covariance WITHOUT an
#     eigendecomposition (trace and Frobenius norm read off the
#     integer Gram entries), plus the mean-vector anisotropy share:
#     the 'is this embedding space collapsed' audit.
def embed_isotropy_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy WITHOUT an eigendecomposition: the
    participation ratio (Σλ)²/Σλ² = trace(G)²/‖G‖²_F needs only the
    integer Gram entries (1 ⇒ collapsed to one direction, d ⇒
    perfectly isotropic), and the mean-vector share ‖Σv‖²/(n·trace)
    measures the common-direction bias contrastive papers correct
    for.  Vectors quantize to int64 milli-units over the first 16
    dims; the Gram accumulates exact integers through a 256-row
    groupBy, so everything but the final ratio is exact."""
    return bind_sql(
        spark,
        _ISO_CORE,
        emb=load_table(spark, sf_dir, "embeddings"),
        quant=(
            f"transform(slice(embedding, 1, {_ISO_DIMS}), "
            "x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ),
        expand=(
            f"LATERAL VIEW explode(sequence(1, {_ISO_DIMS})) ei AS i "
            f"LATERAL VIEW explode(sequence(1, {_ISO_DIMS})) ej AS j"
        ),
        expand_i=f"LATERAL VIEW explode(sequence(1, {_ISO_DIMS})) ei AS i",
        ix="i - 1",
        jx="j - 1",
        idiv="DIV",
        valid="embedding IS NOT NULL AND NOT exists(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)",
    )


_ISO_DUCK = _ISO_CORE.format(
    emb="embeddings",
    quant=(
        f"list_transform(list_slice(embedding, 1, {_ISO_DIMS}), "
        "x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    ),
    expand=(
        f", UNNEST(range(1, {_ISO_DIMS} + 1)) AS ei(i), "
        f"UNNEST(range(1, {_ISO_DIMS} + 1)) AS ej(j)"
    ),
    expand_i=f", UNNEST(range(1, {_ISO_DIMS} + 1)) AS ei(i)",
    ix="i",
    jx="j",
    idiv="//",
    valid="embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0",
)


_YOUDEN_CORE = """
WITH v AS (
  SELECT TRY_CAST(round(value * 100) AS BIGINT) {idiv} {grid} AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM {events}
  WHERE value IS NOT NULL  -- scan-pushdown half of the predicate
    AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
), grid AS (
  SELECT s, COUNT(*) AS n, SUM(y) AS pos FROM v GROUP BY s
), cum AS (
  SELECT s,
         SUM(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS tp,
         SUM(n - pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
           AS fp,
         SUM(pos) OVER () AS p,
         SUM(n - pos) OVER () AS neg
  FROM grid
), j AS (
  SELECT s, tp, fp, p, neg,
         1000000 * tp {idiv} p - 1000000 * fp {idiv} neg AS youden_micro
  FROM cum
)
SELECT CAST(s AS BIGINT) AS threshold_cents,
       CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp,
       CAST(1000000 * tp {idiv} p AS BIGINT) AS tpr_ppm,
       CAST(1000000 * fp {idiv} neg AS BIGINT) AS fpr_ppm,
       CAST(youden_micro AS BIGINT) AS youden_micro
FROM j
ORDER BY youden_micro DESC, threshold_cents
LIMIT 1
"""


#   * ``ml_threshold_youden`` — the decision threshold maximizing
#     Youden's J = TPR − FPR over the full score grid via one
#     cumulative window — the principled version of the fixed
#     threshold list in `ml_confusion_threshold`.
def ml_threshold_youden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision threshold maximizing Youden's J = TPR − FPR over
    the FULL score grid (value-predicts-purchase, the
    `ml_confusion_threshold` setup without its fixed threshold
    list): one cumulative window over the bounded distinct-cents
    grid evaluates every cut at once, J in exact integer micro
    units, deterministic tie-break toward the lower threshold.  The
    same one-pass sweep shape as the exact ROC AUC op."""
    return bind_sql(
        spark,
        _YOUDEN_CORE,
        events=load_table(spark, sf_dir, "events"),
        idiv="DIV",
        grid=_SCORE_GRID_CENTS,
    )


_YOUDEN_DUCK = _YOUDEN_CORE.format(events="events", idiv="//",
                                   grid=_SCORE_GRID_CENTS)


# ---------------------------------------------------------------------------
# Expected calibration error
# ---------------------------------------------------------------------------

# Value-domain bound (contract.VALUE_DOMAIN_SQL, pinned by
# tests/test_contract_hygiene.py): keeps the cents x2500 ppm product
# exact INT64 in both engines — DuckDB throws on BIGINT overflow where
# Spark wraps (round-8 probe).
_ECE_CORE = """
WITH v AS (
  SELECT least(TRY_CAST(round(value * 100) AS BIGINT) * 2500, 1000000)
           AS p_ppm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM {events}
  WHERE value BETWEEN -1.0e12 AND 1.0e12  -- scan-pushdown half
    AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
), b AS (
  SELECT least(p_ppm {idiv} 100000, 9) AS bin,
         COUNT(*) AS nk, SUM(p_ppm) AS sp, SUM(y) AS sy
  FROM v GROUP BY least(p_ppm {idiv} 100000, 9)
), gaps AS (
  SELECT bin, nk,
         abs(sp {idiv} nk - sy * 1000000 {idiv} nk) AS gap_ppm
  FROM b
)
SELECT CAST(SUM(nk) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(nk * gap_ppm) {idiv} SUM(nk) AS BIGINT) AS ece_ppm,
       CAST(MAX(gap_ppm) AS BIGINT) AS max_ece_ppm
FROM gaps
"""


#   * ``ml_calibration_ece`` — expected calibration error (the
#     n_k-weighted mean |gap|) and max-ECE over the same ten bins as
#     `ml_calibration_bins`: the two headline numbers a reliability
#     diagram is summarized by, all exact integer division.
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error over the same ten prediction bins
    as `ml_calibration_bins`: ECE = Σ n_k·|p̄_k − ō_k| / n plus the
    max-bin gap (max-ECE) — the two scalars a reliability diagram
    reduces to, all exact integer division (the per-bin gap uses the
    SAME integer-division means as the bins op, so the two queries
    are arithmetically consistent, not merely similar).  One
    conditional-aggregate scan, then ten rows."""
    return bind_sql(
        spark,
        _ECE_CORE,
        events=load_table(spark, sf_dir, "events"),
        idiv="DIV",
    )


_ECE_DUCK = _ECE_CORE.format(events="events", idiv="//")


# ---------------------------------------------------------------------------
# Class balance audit
# ---------------------------------------------------------------------------

_BALANCE_CORE = """
WITH c AS (
  SELECT label, COUNT(*) AS n FROM {emb} GROUP BY label
), s AS (
  SELECT COUNT(*) AS k, SUM(n) AS nn, MAX(n) AS nmax, MIN(n) AS nmin,
         SUM(CAST(floor(n * ln(CAST(tot AS DOUBLE) / n)
                        * 1000000) AS BIGINT)) AS h_num
  FROM (SELECT label, n, SUM(n) OVER () AS tot FROM c)
)
SELECT CAST(k AS BIGINT) AS n_classes,
       CAST(nn AS BIGINT) AS n_examples,
       CAST(nmax AS BIGINT) AS n_largest,
       CAST(nmin AS BIGINT) AS n_smallest,
       CAST(1000 * nmax {idiv} nmin AS BIGINT) AS imbalance_ratio_milli,
       CAST(h_num {idiv} nn AS BIGINT) AS label_entropy_micro_nats,
       CAST(floor(CAST(h_num {idiv} nn AS DOUBLE) * 1000000
                  / CAST(floor(ln(CAST(k AS DOUBLE)) * 1000000) AS DOUBLE))
            AS BIGINT) AS balance_ppm
FROM s
"""


#   * ``ml_class_balance_audit`` — per-label counts, the
#     max/min imbalance ratio and the normalized label entropy of the
#     embedding corpus: the three numbers a training-set card reports
#     before anyone trusts per-class metrics.
def ml_class_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-balance audit of the embedding corpus: per-class
    extremes, the max/min imbalance ratio (milli), the label
    entropy (per-class terms are one ln of an exact rational,
    floored to micro-nats before the integer sum) and the
    normalized balance H/ln(k) in ppm — 1e6 means perfectly
    balanced classes.  One label groupBy; everything after is
    class-count-sized."""
    return bind_sql(
        spark,
        _BALANCE_CORE,
        emb=load_table(spark, sf_dir, "embeddings"),
        idiv="DIV",
        fdiv="/",
    )


_BALANCE_DUCK = _BALANCE_CORE.format(emb="embeddings", idiv="//", fdiv="/")


QUERIES = {
    "embed_kmeans_lloyd": embed_kmeans_lloyd,
    "embed_gram_matrix": embed_gram_matrix,
    "embed_pca_power": embed_pca_power,
    "ml_target_encoding": ml_target_encoding,
    "ml_feature_hashing": ml_feature_hashing,
    "ml_class_weights": ml_class_weights,
    "embed_centroid_drift": embed_centroid_drift,
    "ml_mutual_information": ml_mutual_information,
    "ml_kfold_assign": ml_kfold_assign,
    "ml_roc_auc": ml_roc_auc,
    "ml_calibration_bins": ml_calibration_bins,
    "ml_confusion_threshold": ml_confusion_threshold,
    "ml_negative_sampling": ml_negative_sampling,
    "ml_feature_woe_iv": ml_feature_woe_iv,
    "ml_pr_auc": ml_pr_auc,
    "ml_lift_gains_table": ml_lift_gains_table,
    "ml_logreg_quality": ml_logreg_quality,
    "ml_ndcg_at_k": ml_ndcg_at_k,
    "ml_cohens_kappa": ml_cohens_kappa,
    "ml_decision_stump": ml_decision_stump,
    "ml_naive_bayes_lang": ml_naive_bayes_lang,
    "ml_gbdt_boosted_stumps": ml_gbdt_boosted_stumps,
    "ml_learning_curve": ml_learning_curve,
    "ml_power_analysis": ml_power_analysis,
    "ml_pinball_quantile_eval": ml_pinball_quantile_eval,
    "ml_permutation_importance": ml_permutation_importance,
    "ml_brier_decomposition": ml_brier_decomposition,
    "ml_forecast_error_eval": ml_forecast_error_eval,
    "ml_hard_negative_mining": ml_hard_negative_mining,
    "embed_isotropy_participation": embed_isotropy_participation,
    "ml_threshold_youden": ml_threshold_youden,
    "ml_calibration_ece": ml_calibration_ece,
    "ml_class_balance_audit": ml_class_balance_audit,
}

ORACLE = {
    "embed_kmeans_lloyd": _KMEANS_DUCK,
    "embed_gram_matrix": _GRAM_DUCK,
    "embed_pca_power": _PCA_DUCK,
    "ml_target_encoding": _TE_DUCK,
    "ml_feature_hashing": _FH_DUCK,
    "ml_class_weights": _CW_DUCK,
    "embed_centroid_drift": _DRIFT_DUCK,
    "ml_mutual_information": _MI_DUCK,
    "ml_kfold_assign": _KFOLD_DUCK,
    "ml_roc_auc": _AUC_DUCK,
    "ml_calibration_bins": _CAL_DUCK,
    "ml_confusion_threshold": _CONF_DUCK,
    "ml_negative_sampling": _NEG_DUCK,
    "ml_feature_woe_iv": _WOE_DUCK,
    "ml_pr_auc": _AP_DUCK,
    "ml_lift_gains_table": _LIFT_SQL,
    "ml_logreg_quality": _lr_duck(),
    "ml_ndcg_at_k": _NDCG_DUCK,
    "ml_cohens_kappa": _KAPPA_DUCK,
    "ml_decision_stump": _STUMP_DUCK,
    "ml_naive_bayes_lang": _NB_DUCK,
    "ml_gbdt_boosted_stumps": _GBDT_DUCK,
    "ml_learning_curve": _LC_DUCK,
    "ml_power_analysis": _POWER_DUCK,
    "ml_pinball_quantile_eval": _PINBALL_DUCK,
    "ml_permutation_importance": _PERMIMP_DUCK,
    "ml_brier_decomposition": _BRIER_DUCK,
    "ml_forecast_error_eval": _FCERR_DUCK,
    "ml_hard_negative_mining": _HNM_DUCK,
    "embed_isotropy_participation": _ISO_DUCK,
    "ml_threshold_youden": _YOUDEN_DUCK,
    "ml_calibration_ece": _ECE_DUCK,
    "ml_class_balance_audit": _BALANCE_DUCK,
}
