"""Data validation: contracts, referential integrity, drift, key
candidates, checksums and leakage audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import cents
from ..sources.readers import load_table
from .contract import money_rounded_sql
from . import bind_sql


# ---------------------------------------------------------------------------
# Data-contract validation scan
# ---------------------------------------------------------------------------


#   * ``validate_data_contract`` — a data-contract scan: every rule
#     (domain, range, nullability, uniqueness, cross-table ordering,
#     referential integrity) evaluated in ONE conditional-aggregation
#     pass per table plus one anti-join, emitted as (rule,
#     n_violations) rows. The declarative form of the reference's
#     pandera gate (SURVEY.md §2.4, ``src/pipeline_pyspark.py:275-308``)
#     generalized to multi-table contracts: violations are COUNTED in a
#     single scan instead of aborting row-at-a-time on the driver.
def validate_data_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table data contract evaluated as COUNTS, not aborts: one
    conditional-aggregation scan over orders, one over lineitem, one
    equi-join for the cross-table ordering rule, one anti-join for
    referential integrity — then ``stack`` unpivots the single-row
    aggregates into (rule, n_violations) rows. At 100 TB each rule
    adds one codegen'd CASE WHEN to a scan that was happening anyway;
    the reference's row-at-a-time pandera abort (SURVEY.md §2.4)
    becomes a declarative, restartable report."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    o_agg = orders.agg(
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint").alias("orders_nonpositive_price"),
        F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0))
        .cast("bigint").alias("orders_bad_status"),
        F.sum(
            F.when(
                F.col("o_orderdate").isNull()
                | (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
                | (F.col("o_orderdate") > F.lit("2001-12-31").cast("date")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("orders_date_out_of_range"),
        (F.count("*") - F.countDistinct("o_orderkey"))
        .cast("bigint").alias("orders_duplicate_orderkey"),
    )
    l_agg = li.agg(
        F.sum(F.when(~F.col("l_quantity").between(1, 50), 1).otherwise(0))
        .cast("bigint").alias("lineitem_qty_out_of_range"),
        F.sum(
            F.when(~cents(F.col("l_discount")).between(0, 10), 1).otherwise(0)
        ).cast("bigint").alias("lineitem_discount_out_of_range"),
    )
    # ONE left join answers both cross-table rules (round 11, guide
    # §2.4: the inner + anti join pair scanned and shuffled lineitem
    # twice). Equivalence is exact even on hostile keys: a duplicated
    # o_orderkey fans matched rows out identically to the old inner
    # join, an unmatched lineitem surfaces exactly once with a NULL
    # marker (the anti-join count), and a NULL-date match makes the
    # ship predicate NULL -> counts 0, just as before.
    join_rules = (
        li.select("l_orderkey", "l_shipdate")
        .join(
            orders.select(
                F.col("o_orderkey"),
                F.col("o_orderdate"),
                F.lit(1).alias("__matched"),
            ),
            li.l_orderkey == F.col("o_orderkey"),
            "left",
        )
        .agg(
            # the old inner-join SUM is NULL when zero rows MATCH —
            # gate the per-row 0/1 on the match marker so unmatched
            # rows contribute NULL (skipped), not 0
            F.sum(
                F.when(
                    F.col("__matched").isNotNull(),
                    F.when(
                        F.col("l_shipdate") < F.col("o_orderdate"), 1
                    ).otherwise(0),
                )
            )
            .cast("bigint").alias("lineitem_ship_before_order"),
            # the old anti-join COUNT(*) is 0 (never NULL) on empty
            # input — count the unmatched markers, don't sum
            F.count(F.when(F.col("__matched").isNull(), F.lit(1)))
            .cast("bigint").alias("lineitem_orphan_orderkey"),
        )
    )
    # documents ingest contract (round 6): the text analytics / dedup
    # families DEFINE their semantics over non-null text — a NULL
    # text/lang/source row is a contract violation surfaced HERE, not
    # a value every downstream tokenizer must invent NULL semantics
    # for (SCALE.md "NULL posture"). Counts, not aborts, as above.
    docs = load_table(spark, sf_dir, "documents")
    d_agg = docs.agg(
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0))
        .cast("bigint").alias("documents_null_text"),
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0))
        .cast("bigint").alias("documents_null_lang"),
        F.sum(F.when(F.col("source").isNull(), 1).otherwise(0))
        .cast("bigint").alias("documents_null_source"),
        (F.count("*") - F.countDistinct("doc_id"))
        .cast("bigint").alias("documents_duplicate_doc_id"),
        F.sum(
            F.when(
                F.col("text").isNotNull()
                & F.col("n_chars").isNotNull()
                & (F.col("n_chars") != F.length("text")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("documents_nchars_mismatch"),
    )

    # events + embeddings ingest contract (round 7): the per-query
    # NULL/non-finite filters DROP invalid rows; this audit COUNTS
    # them, so the pipeline operator sees how much the filters ate
    # before trusting any downstream metric. Same scan-side
    # conditional-aggregate shape as every rule above.
    ev = load_table(spark, sf_dir, "events")
    e_agg = ev.agg(
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0))
        .cast("bigint").alias("events_null_ts"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("bigint").alias("events_null_user_id"),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0))
        .cast("bigint").alias("events_null_event_type"),
        F.sum(
            F.when(
                F.isnan("value")
                | (F.abs(F.col("value")) == F.lit(float("inf"))),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("events_nonfinite_value"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    emb_agg = emb.agg(
        F.sum(
            F.when(
                F.col("embedding").isNull()
                | F.expr(
                    "exists(embedding, x -> x IS NULL OR isnan(x)"
                    " OR abs(x) > 1e6)"
                ),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("embeddings_invalid_vector"),
    )

    def unpivot(df: DataFrame) -> DataFrame:
        cols = df.columns
        pairs = ", ".join(f"'{c}', {c}" for c in cols)
        return df.selectExpr(
            f"stack({len(cols)}, {pairs}) AS (rule, n_violations)"
        )

    return (
        unpivot(o_agg)
        .unionAll(unpivot(l_agg))
        .unionAll(unpivot(join_rules))
        .unionAll(unpivot(d_agg))
        .unionAll(unpivot(e_agg))
        .unionAll(unpivot(emb_agg))
    )


_CONTRACT_SQL = """
SELECT 'orders_nonpositive_price' AS rule,
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations FROM orders
UNION ALL
SELECT 'orders_bad_status',
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
            AS BIGINT) FROM orders
UNION ALL
SELECT 'orders_date_out_of_range',
       CAST(SUM(CASE WHEN o_orderdate IS NULL
                      OR o_orderdate < DATE '1992-01-01'
                      OR o_orderdate > DATE '2001-12-31'
                     THEN 1 ELSE 0 END) AS BIGINT) FROM orders
UNION ALL
SELECT 'orders_duplicate_orderkey',
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'lineitem_qty_out_of_range',
       CAST(SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END)
            AS BIGINT) FROM lineitem
UNION ALL
SELECT 'lineitem_discount_out_of_range',
       CAST(SUM(CASE WHEN TRY_CAST(ROUND(l_discount * 100) AS BIGINT)
                     NOT BETWEEN 0 AND 10 THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
UNION ALL
SELECT 'lineitem_ship_before_order',
       CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END)
            AS BIGINT)
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'lineitem_orphan_orderkey',
       CAST(COUNT(*) AS BIGINT)
  FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'documents_null_text',
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM documents
UNION ALL
SELECT 'documents_null_lang',
       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM documents
UNION ALL
SELECT 'documents_null_source',
       CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM documents
UNION ALL
SELECT 'documents_duplicate_doc_id',
       CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) FROM documents
UNION ALL
SELECT 'documents_nchars_mismatch',
       CAST(SUM(CASE WHEN text IS NOT NULL AND n_chars IS NOT NULL
                      AND n_chars != length(text)
                     THEN 1 ELSE 0 END) AS BIGINT) FROM documents
UNION ALL
SELECT 'events_null_ts',
       CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
UNION ALL
SELECT 'events_null_user_id',
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
UNION ALL
SELECT 'events_null_event_type',
       CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
UNION ALL
SELECT 'events_nonfinite_value',
       CAST(SUM(CASE WHEN isnan(value) OR isinf(value) THEN 1 ELSE 0 END)
            AS BIGINT)
  FROM events
UNION ALL
SELECT 'embeddings_invalid_vector',
       CAST(SUM(CASE WHEN embedding IS NULL
                      OR len(list_filter(embedding,
                             x -> x IS NULL OR isnan(x)
                                  OR abs(x) > 1e6)) > 0
                     THEN 1 ELSE 0 END) AS BIGINT)
  FROM embeddings
"""


# ---------------------------------------------------------------------------
# Population Stability Index (distribution drift between eras)
# ---------------------------------------------------------------------------

# fixed bucket domain: TPC-H o_totalprice spans ~[900, 560k] by spec at
# every scale factor, so 10 equal-width buckets over [0, 600k) (in
# cents: 60M) are scale-invariant — no data-dependent bounds needed
_PSI_DOMAIN_CENTS = 60_000_000


_PSI_BUCKETS = 10


_PSI_SPLIT_DATE = "1996-01-01"  # era boundary inside TPC-H's 1992-1998 span


_PSI_CORE = f"""
WITH b AS (
  SELECT CASE WHEN o_orderdate < DATE '{_PSI_SPLIT_DATE}' THEN 0 ELSE 1 END
           AS era,
         LEAST({money_rounded_sql('o_totalprice')}
               * {_PSI_BUCKETS} {{div}} {_PSI_DOMAIN_CENTS},
               {_PSI_BUCKETS - 1}) AS bucket
  FROM {{orders}}
), c AS (
  -- corrupt (domain-bounded-out) money has no bucket: NULL buckets
  -- are excluded so the histograms count real values only
  SELECT bucket,
         SUM(CASE WHEN era = 0 THEN 1 ELSE 0 END) AS n_ref,
         SUM(CASE WHEN era = 1 THEN 1 ELSE 0 END) AS n_cur
  FROM b WHERE bucket IS NOT NULL GROUP BY bucket
), ct AS (
  -- totals as windows over the <=10-row bucket relation: a
  -- re-aggregate + cross join would recompute c (and rescan orders)
  SELECT bucket, n_ref, n_cur,
         SUM(n_ref) OVER () AS tr, SUM(n_cur) OVER () AS tc,
         COUNT(*) OVER () AS nb
  FROM c
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       CAST(floor((CAST(n_cur + 1 AS DOUBLE) / (tc + nb)
                   - CAST(n_ref + 1 AS DOUBLE) / (tr + nb))
                  * ln((CAST(n_cur + 1 AS DOUBLE) / (tc + nb))
                       / (CAST(n_ref + 1 AS DOUBLE) / (tr + nb)))
                  * 1e9) AS BIGINT) AS psi_nano
FROM ct
"""


#   * ``validate_drift_psi`` — Population Stability Index between two
#     table eras over fixed equal-width value buckets: ONE
#     conditional-aggregation scan builds both eras' histograms, a
#     1-row re-aggregate broadcasts the totals, and each bucket's PSI
#     term is floored to nano units (the op's declared precision)
#     before summing — the standard drift monitor between a reference
#     snapshot and fresh data, order-independent at any parallelism.
def validate_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of the order-value distribution, pre-1996 era vs since:
    (p_cur - p_ref) * ln(p_cur / p_ref) per fixed equal-width bucket,
    +1-smoothed so empty buckets stay finite, each term floored to
    nano units before any summing (total PSI = sum of psi_nano
    downstream). Both histograms come from ONE conditional-agg scan;
    totals are windows over the 10-row bucket relation (never a
    second fact pass). ln() is the same libm double in
    both engines — verified bit-identical earlier in this repo."""
    return bind_sql(
        spark, _PSI_CORE, orders=load_table(spark, sf_dir, "orders"), div="DIV"
    )


_PSI_DUCK = _PSI_CORE.format(orders="orders", div="//")


# ---------------------------------------------------------------------------
# Referential-integrity audit
# ---------------------------------------------------------------------------

_RI_FKS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


#   * ``validate_referential_integrity`` — foreign-key orphan audit
#     across every relationship in the star schema: per FK, child
#     count, orphan count (left-anti join against the parent key set)
#     and orphan ppm. The reference's pandera checks validate single
#     columns (SURVEY §2.4); this is the CROSS-TABLE contract a real
#     warehouse ingest gate needs.
def validate_referential_integrity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Orphan audit for all {n} FK relationships: each row is one FK
    with its child cardinality, orphan count and orphan ppm. Orphans
    come from a LEFT ANTI join of child keys against the
    deduplicated parent key set — Catalyst picks broadcast for the
    small parents (nation/region) and a shuffled hash join for the
    big ones, which is exactly the right split at 100 TB; only key
    columns are scanned (column pruning leaves the wide payload on
    disk). Each child table is scanned ONCE: all of its FK columns
    ride one pass through left joins against the deduplicated parent
    key sets, one wide aggregate counts rows + per-FK unmatched keys
    (a NULL FK matches nothing, so it counts as an orphan — the
    anti-join/NOT EXISTS rule), and ``stack`` unpivots the single
    wide row into one row per FK (guide §2.4: the per-FK
    count+anti-join form scanned lineitem six times and scheduled
    ~46 stage-jobs; this shape scans it once, ~1/3 the jobs). A
    healthy pipeline reports all zeros — the query is the gate that
    PROVES it, and its ppm column is the drift alarm when a
    late-arriving dimension breaks it.""".format(n=len(_RI_FKS))
    by_child: dict = {}
    for child, ck, parent, pk in _RI_FKS:
        by_child.setdefault(child, []).append((ck, parent, pk))
    parts = []
    for child, fks in by_child.items():
        j = load_table(spark, sf_dir, child).select(
            *[F.col(ck) for ck, _, _ in fks]
        )
        aggs = [F.count(F.lit(1)).alias("n_child")]
        stack_args = []
        for i, (ck, parent, pk) in enumerate(fks):
            p = (
                load_table(spark, sf_dir, parent)
                .select(F.col(pk).alias(f"__pk{i}"))
                .distinct()
            )
            j = j.join(p, F.col(ck) == F.col(f"__pk{i}"), "left")
            aggs.append(
                F.count(F.when(F.col(f"__pk{i}").isNull(), 1)).alias(
                    f"n_orph{i}"
                )
            )
            stack_args.append(
                f"'{child}.{ck}->{parent}.{pk}', n_orph{i}"
            )
        wide = j.agg(*aggs)
        parts.append(
            wide.select(
                F.expr(
                    f"stack({len(fks)}, {', '.join(stack_args)}) AS (fk, n_orphans)"
                ),
                "n_child",
            ).select(
                "fk",
                F.col("n_child").cast("bigint").alias("n_child"),
                F.col("n_orphans").cast("bigint").alias("n_orphans"),
                F.expr("n_orphans * 1000000 DIV n_child").alias(
                    "orphan_ppm"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out.orderBy("fk")


def _ri_duck() -> str:
    rows = []
    for child, ck, parent, pk in _RI_FKS:
        rows.append(f"""SELECT '{child}.{ck}->{parent}.{pk}' AS fk,
       CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_child,
       CAST((SELECT COUNT(*) FROM {child} c
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{ck})) AS BIGINT)
         AS n_orphans,
       CAST((SELECT COUNT(*) FROM {child} c
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{ck})) * 1000000
            // (SELECT COUNT(*) FROM {child}) AS BIGINT) AS orphan_ppm""")
    return "\nUNION ALL ".join(rows) + "\nORDER BY fk"


# ---------------------------------------------------------------------------
# Fold/dup leakage
# ---------------------------------------------------------------------------

_FOLDS = 5


_SIG_TOKENS = 5


_LEAK_CORE = f"""
WITH g AS (
  SELECT sig, doc_id,
         doc_id % {_FOLDS} AS fold_by_id,
         {{hexint}} % {_FOLDS} AS fold_by_sig
  FROM (SELECT doc_id, {{sig}} AS sig FROM {{docs}})
), per_group AS (
  SELECT sig, COUNT(*) AS n_docs,
         COUNT(DISTINCT fold_by_id) AS id_folds,
         COUNT(DISTINCT fold_by_sig) AS sig_folds
  FROM g GROUP BY sig
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_groups,
       CAST(SUM(CASE WHEN id_folds > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaky_by_id,
       CAST(SUM(CASE WHEN id_folds > 1 THEN n_docs ELSE 0 END) AS BIGINT)
         AS n_docs_leaky_by_id,
       CAST(SUM(CASE WHEN sig_folds > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaky_by_sig
FROM per_group
"""


#   * ``validate_fold_dup_leakage`` — the evaluation bug behind many
#     inflated benchmark numbers: near-duplicate documents split
#     across cross-validation folds leak training text into test.
#     Duplicate groups here are opening-shingle signatures (first five
#     tokens — the fixture has no byte-exact dup docs, and a signature
#     group is exactly what chunk/substring dedup treats as shared
#     text). Measures the leakage under doc_id-hash folds AND proves
#     the fix in the same output: folds assigned by the SIGNATURE hash
#     leak structurally zero.
def validate_fold_dup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation leakage audit over shared-opening-shingle
    groups: with folds assigned by doc_id hash, a group's documents
    are free to straddle folds (n_leaky_by_id counts the groups that
    do — real leakage on this corpus); with folds assigned by the
    group signature's own hash, straddling is impossible and
    n_leaky_by_sig is structurally zero — the query carries its own
    fix, which is exactly how production folding should key. One
    signature groupBy; only 5-token signatures shuffle, never
    bodies."""
    return bind_sql(
        spark,
        _LEAK_CORE,
        docs=load_table(spark, sf_dir, "documents"),
        sig=(
            f"array_join(slice(filter(split(text, ' '), x -> x != ''),"
            f" 1, {_SIG_TOKENS}), ' ')"
        ),
        hexint="CAST(conv(substring(md5(sig), 1, 12), 16, 10) AS BIGINT)",
    )


_LEAK_DUCK = _LEAK_CORE.format(
    docs="documents",
    sig=(
        f"array_to_string(list_slice(list_filter(string_split(text, ' '),"
        f" x -> x != ''), 1, {_SIG_TOKENS}), ' ')"
    ),
    hexint=(
        "CAST(concat('0x', substring(md5(sig), 1, 12)) AS BIGINT)"
    ),
)


# ---------------------------------------------------------------------------
# Key-candidate profiling
# ---------------------------------------------------------------------------

_KEYS_CORE = """
SELECT col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(v) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
       CAST(CASE WHEN COUNT(DISTINCT v) = COUNT(*) THEN 1 ELSE 0 END
            AS BIGINT) AS is_unique_key
FROM ({stacked})
GROUP BY col_name
ORDER BY col_name
"""


#   * ``validate_key_candidates`` — key/uniqueness profiling of the
#     orders table in ONE scan: `stack` unpivots the candidate
#     columns, one groupBy yields rows / non-nulls / exact distincts
#     / is-unique per column.  The schema-discovery pass every
#     ingestion pipeline runs before declaring join keys.
def validate_key_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key/uniqueness profiling of four orders columns in ONE scan:
    `stack` unpivots (column, value-as-string) pairs map-side, then a
    single groupBy computes rows, non-nulls, exact distincts and the
    is-unique verdict per column — the discovery pass that finds
    o_orderkey is a key and o_custkey/o_orderdate are not.  Exact
    COUNT(DISTINCT) over the stacked relation shuffles hashed values
    once per column group; at 100 TB the same query swaps in
    approx_count_distinct (HLL) per the documented sketch contract
    (`agg_approx_sketches`), trading exactness for a single pass."""
    stacked = (
        "SELECT stack(4, "
        "'o_orderkey', CAST(o_orderkey AS STRING), "
        "'o_custkey', CAST(o_custkey AS STRING), "
        "'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS STRING), "
        "'o_orderpriority', o_orderpriority) AS (col_name, v) "
        "FROM {orders}"
    )
    return bind_sql(
        spark,
        _KEYS_CORE.format(stacked=stacked),
        orders=load_table(spark, sf_dir, "orders"),
    )


_KEYS_DUCK = _KEYS_CORE.format(
    stacked=(
        "SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS v"
        " FROM orders"
        " UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR)"
        " FROM orders"
        " UNION ALL SELECT 'o_orderdate', CAST(CAST(o_orderdate AS DATE)"
        " AS VARCHAR) FROM orders"
        " UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders"
    )
)


# ---------------------------------------------------------------------------
# Table content checksum
# ---------------------------------------------------------------------------

_CKS_MOD = 1_000_000_007


_CKS_CORE = f"""
WITH fp AS (
  SELECT {{hexint}} AS h
  FROM (
    SELECT md5(concat_ws('|',
             CAST(o_orderkey AS {{str}}),
             CAST(o_custkey AS {{str}}),
             o_orderstatus,
             CAST(TRY_CAST(round(o_totalprice * 100) AS BIGINT) AS {{str}}),
             CAST(CAST(o_orderdate AS DATE) AS {{str}}),
             o_orderpriority)) AS m
    FROM {{orders}}
  )
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_fp,
       CAST(SUM(CAST(h % {_CKS_MOD} AS DECIMAL(38,0))) % {_CKS_MOD}
            AS BIGINT) AS checksum_sum,
       CAST(MIN(h) AS BIGINT) AS min_fp,
       CAST(MAX(h) AS BIGINT) AS max_fp
FROM fp
"""


#   * ``validate_table_checksum`` — order-independent content
#     checksum of orders from per-row md5 fingerprints over
#     canonicalized columns (ints, cents, date-string): the
#     cheap end-to-end integrity audit for replicated snapshots.
def validate_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum of the orders table:
    canonicalize every column to a stable string form (ints, exact
    cents, date-without-time — the float column never stringifies),
    md5 each row, fold the top 48 bits into an additive modular
    checksum.  Addition commutes, so the checksum is identical under
    any partitioning or row order — the property a distributed
    integrity audit needs; comparing two snapshots costs two scans
    and a 5-number diff.  Per-row residues (< 1e9) accumulate in
    DECIMAL(38,0) and the modulus is re-applied AFTER the sum: a
    plain BIGINT sum would wrap silently in Spark past ~9e9 rows
    while DuckDB's HUGEINT→BIGINT cast errors — a divergent failure
    mode for the one op whose job is cross-snapshot integrity.  One
    map-side projection + one aggregate."""
    return bind_sql(
        spark,
        _CKS_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        str="STRING",
        hexint="CAST(conv(substring(m, 1, 12), 16, 10) AS BIGINT)",
    )


_CKS_DUCK = _CKS_CORE.format(
    orders="orders",
    str="VARCHAR",
    hexint="CAST(concat('0x', substring(m, 1, 12)) AS BIGINT)",
)


# ---------------------------------------------------------------------------
# Adversarial drift AUC
# ---------------------------------------------------------------------------

_DRIFT_Y0 = 1996


_DRIFT_Y1 = 1997


_DRIFTAUC_CORE = f"""
WITH v AS (
  SELECT TRY_CAST(round(o_totalprice * 100) AS BIGINT) AS s,
         CASE WHEN year(o_orderdate) = {_DRIFT_Y1} THEN 1 ELSE 0 END AS y
  FROM {{orders}}
  WHERE year(o_orderdate) IN ({_DRIFT_Y0}, {_DRIFT_Y1})
), cnt AS (
  SELECT s, SUM(y) AS cp, COUNT(*) AS ct FROM v GROUP BY s
), w AS (
  SELECT s, cp, ct,
         coalesce(SUM(ct) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM cnt
), agg AS (
  SELECT SUM(CAST(cp AS {{big}}) * (2 * below + ct + 1)) AS r2_pos,
         SUM(cp) AS n_pos, SUM(ct - cp) AS n_neg
  FROM w
), auc AS (
  SELECT n_pos, n_neg,
         (r2_pos - CAST(n_pos AS {{big}}) * (n_pos + 1)) * 1000000
           {{idiv}} (2 * CAST(n_pos AS {{big}}) * n_neg) AS auc_ppm
  FROM agg
)
SELECT CAST(n_neg AS BIGINT) AS n_cohort_a,
       CAST(n_pos AS BIGINT) AS n_cohort_b,
       CAST(auc_ppm AS BIGINT) AS adversarial_auc_ppm,
       CAST(abs(auc_ppm - 500000) AS BIGINT) AS drift_score_ppm
FROM auc
"""


#   * ``validate_drift_adversarial`` — the adversarial two-sample
#     test: the exact rank-sum AUC of order value distinguishing the
#     1996 cohort from the 1997 cohort.  AUC ≈ 0.5 ⇒ no
#     distributional drift; the |AUC−0.5| score is the single number
#     a feature-drift monitor pages on.  Same integer rank-sum
#     identity as `ml_roc_auc` — no threshold sweep, no row sort.
def validate_drift_adversarial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial two-sample drift test: the exact AUC with which
    order value alone separates the 1996 cohort from the 1997 cohort
    — AUC 0.5 means the feature distribution did not move, and
    |AUC−0.5| is the page-on-this drift score (the
    classifier-two-sample-test reduced to its exact one-feature
    form).  Same integer rank-sum identity as `ml_roc_auc`: one
    cumulative window over the bounded distinct-cents grid, integer
    to the final ppm division.  The PSI test (`validate_drift_psi`)
    bins first; this one is bin-free and detects any rank shift."""
    return bind_sql(
        spark,
        _DRIFTAUC_CORE,
        orders=load_table(spark, sf_dir, "orders"),
        big="DECIMAL(38,0)",
        idiv="DIV",
    )


_DRIFTAUC_DUCK = _DRIFTAUC_CORE.format(
    orders="orders", big="HUGEINT", idiv="//"
)


# ---------------------------------------------------------------------------
# Hash collision budget
# ---------------------------------------------------------------------------

_HCB_SHINGLE = 5


_HCB_CORE = """
WITH grams AS (
  SELECT DISTINCT gram FROM {grams}
), hashed AS (
  SELECT gram, {hexint} AS h FROM grams
), s AS (
  SELECT COUNT(*) AS n_grams, COUNT(DISTINCT h) AS n_hashes
  FROM hashed
)
SELECT CAST(n_grams AS BIGINT) AS n_distinct_grams,
       CAST(n_hashes AS BIGINT) AS n_distinct_hashes,
       CAST(n_grams - n_hashes AS BIGINT) AS observed_collisions,
       CAST((CAST(n_grams AS DECIMAL(38,0)) * (n_grams - 1) * 1000000
             - (CAST(n_grams AS DECIMAL(38,0)) * (n_grams - 1) * 1000000)
               % 562949953421312)
            / 562949953421312 AS BIGINT)
         AS expected_collisions_micro
FROM s
"""


#   * ``validate_hash_collision_budget`` — measures the 48-bit gram
#     fingerprint space this repo's dedup/overlap operators rely on:
#     observed md5-prefix collisions (distinct grams whose 48-bit
#     prefixes collide) next to the birthday-bound expectation
#     n(n−1)/2^49.  The documented collision contract becomes
#     measured data instead of a docstring claim.
def validate_hash_collision_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measures the 48-bit md5-prefix fingerprint space that
    `curate_source_overlap_matrix` and the dedup fingerprints rely
    on: distinct 5-token shingles vs distinct 48-bit prefixes, so
    `observed_collisions` is exact data, next to the birthday bound
    E ≈ n(n−1)/2^49 (expected_collisions_micro divides by
    2^49/2^20 ≈ 5.6e8 — an exact integer scaling that keeps the
    whole audit in int64 at any corpus the 48-bit space is sane
    for).  One distinct-gram shuffle, then counters — the audit
    that turns the documented collision contract into measured
    evidence, and the query to re-run before trusting the budget on
    a 100 TB corpus."""
    grams = bind_sql(
        spark,
        f"""
        SELECT concat_ws(' ', slice(t, i, {_HCB_SHINGLE})) AS gram
        FROM (SELECT filter(split(text, ' '), x -> x != '') AS t
              FROM {{docs}})
        LATERAL VIEW explode(sequence(1, size(t) - {_HCB_SHINGLE} + 1))
          e AS i
        WHERE size(t) >= {_HCB_SHINGLE}
        """,
        docs=load_table(spark, sf_dir, "documents"),
    )
    return bind_sql(
        spark,
        _HCB_CORE,
        grams=grams,
        hexint="CAST(conv(substring(md5(gram), 1, 12), 16, 10) AS BIGINT)",
        idiv="DIV",
    )


_HCB_DUCK = _HCB_CORE.format(
    grams=(
        f"""(
  SELECT array_to_string(list_slice(t, i, i + {_HCB_SHINGLE} - 1), ' ')
           AS gram
  FROM (SELECT list_filter(string_split(text, ' '), x -> x != '') AS t
        FROM documents),
       UNNEST(range(1, 1200)) AS u(i)
  WHERE i <= len(t) - {_HCB_SHINGLE} + 1
)"""
    ),
    hexint=(
        "CAST(concat('0x', substring(md5(gram), 1, 12)) AS BIGINT)"
    ),
    idiv="//",
)


QUERIES = {
    "validate_data_contract": validate_data_contract,
    "validate_drift_psi": validate_drift_psi,
    "validate_referential_integrity": validate_referential_integrity,
    "validate_fold_dup_leakage": validate_fold_dup_leakage,
    "validate_key_candidates": validate_key_candidates,
    "validate_table_checksum": validate_table_checksum,
    "validate_drift_adversarial": validate_drift_adversarial,
    "validate_hash_collision_budget": validate_hash_collision_budget,
}

ORACLE = {
    "validate_data_contract": _CONTRACT_SQL,
    "validate_drift_psi": _PSI_DUCK,
    "validate_referential_integrity": _ri_duck(),
    "validate_fold_dup_leakage": _LEAK_DUCK,
    "validate_key_candidates": _KEYS_DUCK,
    "validate_table_checksum": _CKS_DUCK,
    "validate_drift_adversarial": _DRIFTAUC_DUCK,
    "validate_hash_collision_budget": _HCB_DUCK,
}
