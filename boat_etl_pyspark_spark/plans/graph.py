"""Graph analytics over relations derived from the fixture tables:
reachability, components, centrality, cores and communities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import shared, track_persist
from ..functions.numeric import cents
from ..operators.library import topk_per_group
from ..sources.readers import load_table


# ---------------------------------------------------------------------------
# Fixed-point integer PageRank (3 iterations) over the nation trade graph
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000  # rank fixed-point scale


_PR_ITERS = 3


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed nation->nation edges weighted by lineitem count
    (supplier nation ships to customer nation). Heavy side is one
    shuffle of lineitem on orderkey; nation/supplier/customer keys ride
    along via broadcast joins."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )


def trade_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached trade-edge relation (tiny: <= nations² rows, but
    the build is a full lineitem⋈orders shuffle). PageRank and BFS
    both consume it; ``cache.shared`` (released by ``release_caches``)
    makes the second consumer pay nothing."""
    return shared(
        spark, sf_dir, "trade_edges", lambda: _trade_edges(spark, sf_dir)
    )


#   * fixed-point integer PageRank (deterministic iterative algorithm
#     with an exact SQL oracle).
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank, 3 unrolled iterations, ENTIRELY in int64
    fixed-point (scale 1e9): per-edge contribution is
    ``rank * w DIV out_w`` and the damping update is
    ``0.15*SCALE + 85*sum DIV 100`` — every operation is associative
    integer arithmetic, so the result is bit-identical at any
    parallelism and in any engine (the float formulation would not
    hash-match under different summation orders). The DATA-sized work
    — building the nation→nation edge relation from lineitem⋈orders —
    stays distributed (and session-cached); the fixpoint itself runs
    over a relation bounded by 25² nation pairs, a dimension-sized
    constant at ANY fact-table scale, so it is pulled once as a
    bounded summary and iterated driver-side (guide §1.2: the old
    3-iteration lazy unrolling scheduled ~9 exchange stages over
    ≤625 rows — pure scheduling overhead, measured 1.2s of a 1.9s
    query). Nodes without out-edges leak their damped mass
    (documented classic simplification — identical in the oracle)."""
    edges = trade_edges_cached(spark, sf_dir)
    # bounded collect: ≤ nations² = 625 rows at any scale factor (the
    # same geography bound as the broadcastable nation dimension)
    e_rows = edges.collect()
    out_w: dict = {}
    for r in e_rows:
        out_w[r["src"]] = out_w.get(r["src"], 0) + r["w"]
    # the out-weight equi-join drops NULL-src edges (SQL NULL never
    # matches); a NULL dst still mints a node, whose contributions
    # the left equi-join then cannot re-attach — replicated exactly
    e = [r for r in e_rows if r["src"] is not None]
    nodes = {r["src"] for r in e} | {r["dst"] for r in e}
    if not nodes:  # empty graph (fully-filtered / cold-start input)
        return spark.createDataFrame([], "nation string, rank_units bigint")
    init = _PR_SCALE // len(nodes)
    base = _PR_SCALE * 15 // 100
    # integer semantics match the SQL exactly: every operand is
    # non-negative, so python // == Spark DIV == DuckDB //
    rank = {n: init for n in nodes}
    for _ in range(_PR_ITERS):
        in_sum = {n: 0 for n in nodes}
        for r in e:
            d = r["dst"]
            if d is not None:
                in_sum[d] += rank[r["src"]] * r["w"] // out_w[r["src"]]
        rank = {n: base + 85 * in_sum[n] // 100 for n in nodes}
    rank_df = spark.createDataFrame(
        [(n, rank[n]) for n in sorted(
            nodes, key=lambda x: (x is not None, -1 if x is None else x)
        )],
        "nation int, rank bigint",
    )
    nation_names = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        rank_df.join(F.broadcast(nation_names), rank_df.nation == nation_names.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.col("rank").alias("rank_units"))
    )


def _pagerank_sql() -> str:
    base = _PR_SCALE * 15 // 100
    iters = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT n.nation,
         CAST({base} + 85 * COALESCE(c.in_sum, 0) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst, SUM({prev}.rank * e.w // e.out_w) AS in_sum
    FROM e JOIN {prev} ON e.src = {prev}.nation
    GROUP BY e.dst
  ) c ON n.nation = c.dst
)"""
        )
        prev = f"r{i}"
    return f"""
WITH edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), out_w AS (
  SELECT src, SUM(w) AS out_w FROM edges GROUP BY src
), e AS (
  SELECT edges.src, edges.dst, edges.w, out_w.out_w
  FROM edges JOIN out_w ON edges.src = out_w.src
), nodes AS (
  SELECT DISTINCT src AS nation FROM edges
  UNION SELECT DISTINCT dst FROM edges
), n_nodes AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (
  SELECT nation, CAST({_PR_SCALE} // (SELECT n FROM n_nodes) AS BIGINT) AS rank
  FROM nodes
),
{",".join(iters)}
SELECT nn.n_name AS nation, {prev}.rank AS rank_units
FROM {prev} JOIN nation nn ON {prev}.nation = nn.n_nationkey
"""


# ---------------------------------------------------------------------------
# Triangle counting on the part co-purchase graph
# ---------------------------------------------------------------------------

_TRI_FROM = "1995-01-01"


_TRI_TO = "1995-03-31"


#   * ``graph_triangle_count`` — triangle counting on the part
#     co-purchase graph (parts sharing an order), using the id-ordered
#     edge orientation so every triangle is generated exactly once.
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the part co-purchase graph (two parts are adjacent
    iff some order contains both), on a one-quarter order slice.
    Edges are oriented a < b so each triangle (a < b < c) is produced
    by exactly one wedge join — the standard distributed triangle
    scheme: edges ⋈ edges on the shared middle vertex, then one more
    equi-join to close the wedge. The edge list is built once and
    persisted (three consumers). At 100 TB the same plan holds with
    degree-based orientation to bound wedge skew; the date slice is
    the partition-pruning knob."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sliced = orders.where(
        F.col("o_orderdate").between(_TRI_FROM, _TRI_TO)
    ).select("o_orderkey")
    op = (
        li.join(sliced, li.l_orderkey == sliced.o_orderkey)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    x, y = op.alias("x"), op.alias("y")
    edges = track_persist(
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .distinct()
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    return n_edges.crossJoin(n_tri)


_TRIANGLE_SQL = f"""
WITH op AS (
  SELECT DISTINCT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate BETWEEN DATE '{_TRI_FROM}' AND DATE '{_TRI_TO}'
), edges AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM op x JOIN op y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM edges e1
        JOIN edges e2 ON e1.b = e2.a
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
"""


# ---------------------------------------------------------------------------
# Hierarchy rollup (algebraic ancestors)
# ---------------------------------------------------------------------------

_H_DEPTH = 6  # 10^6 > max custkey at every fixture scale


#   * ``graph_hierarchy_rollup`` — subtree aggregation over a synthetic
#     customer hierarchy (parent = custkey DIV 10). Because the
#     ancestor chain has the CLOSED FORM ancestor_k = custkey DIV 10^k,
#     the transitive closure is a 6-way explode + one aggregate — zero
#     joins, zero iterations. The general lesson for 100 TB
#     hierarchies: when the encoding gives ancestors algebraically
#     (materialized-path / interval / Dewey ids), rollup is one scan;
#     recursive joins are the fallback, not the default.
def graph_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total customer spend rolled up to every ancestor of a synthetic
    decimal hierarchy (parent = custkey DIV 10). The ancestor set has
    a closed form — ancestor_k = custkey DIV 10^k — so the transitive
    closure is one explode + one aggregate: no recursive joins, no
    iteration, one shuffle on the ancestor key. Reported for the
    2-digit management layer (ancestors 10..99) to keep the output
    bounded."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("spend_cents")
    )
    exploded = spend.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {_H_DEPTH}), "
                f"k -> o_custkey DIV CAST(power(10, k) AS BIGINT))"
            )
        ).alias("ancestor"),
        "spend_cents",
    )
    return (
        exploded.where(F.col("ancestor").between(10, 99))
        .groupBy("ancestor")
        .agg(
            F.count("*").alias("n_descendants"),
            F.sum("spend_cents").alias("subtree_spend_cents"),
        )
    )


_HIERARCHY_SQL = f"""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS spend_cents
  FROM orders GROUP BY 1
), exploded AS (
  SELECT o_custkey // CAST(power(10, k) AS BIGINT) AS ancestor,
         spend_cents
  FROM spend, (SELECT unnest(range(0, {_H_DEPTH + 1})) AS k)
)
SELECT ancestor,
       CAST(COUNT(*) AS BIGINT) AS n_descendants,
       CAST(SUM(spend_cents) AS BIGINT) AS subtree_spend_cents
FROM exploded
WHERE ancestor BETWEEN 10 AND 99
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# BFS reachability
# ---------------------------------------------------------------------------

_BFS_SEED = 0


_BFS_TOPK = 3


_BFS_ITERS = 4


#   * ``graph_bfs_reachability`` — multi-source-capable BFS (here: one
#     seed) over the nation trade graph, sparsified to each nation's
#     top-3 outgoing routes so hop distances are non-trivial. Four
#     unrolled frontier expansions, each ONE broadcast join (the
#     distance relation is node-sized) + a min-aggregate — the
#     iterative join+agg shape that scales with graph diameter, not
#     edge count, exactly like the PageRank and connected-components
#     loops already in the library. Unreached nations report NULL.
def graph_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from nation 0 over each nation's top-3 trade
    routes (by weight desc, dst asc — the deterministic ROW_NUMBER
    sparsifier). Four iterations of dist' = min(dist, min over
    in-edges of dist[src] + 1). The DATA-sized stage (the
    lineitem⋈orders edge aggregation) stays distributed and
    session-cached; the graph it yields is bounded by 25² nation
    pairs at ANY fact volume, so the four relaxation rounds run
    driver-side over that bounded summary (guide §1.2: the unrolled
    broadcast-join + lazy-localCheckpoint form scheduled ~27 tiny
    stage-jobs over ≤75 edges). The data-scale iterative shape lives
    where the graph is data-sized: ``graph_kcore_peeling`` /
    ``dedup_clusters``. Replication notes: the ROW_NUMBER order is
    (w DESC, dst ASC NULLS FIRST); a NULL src edge equi-joins no
    frontier row; a NULL dst node can never be re-attached by the
    left equi-join, so its distance stays NULL."""
    # bounded collect: ≤ nations² = 625 rows at any scale factor
    e_rows = trade_edges_cached(spark, sf_dir).collect()
    by_src: dict = {}
    for r in e_rows:
        by_src.setdefault(r["src"], []).append((r["dst"], r["w"]))
    edges = []
    for s, nbrs in by_src.items():
        nbrs.sort(
            key=lambda dw: (-dw[1], dw[0] is not None,
                            0 if dw[0] is None else dw[0])
        )
        edges.extend((s, d) for d, _w in nbrs[:_BFS_TOPK])
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    dist = {n: 0 if n == _BFS_SEED else None for n in nodes}
    for _ in range(_BFS_ITERS):
        frontier: dict = {}
        for s, d in edges:
            if s is not None and dist[s] is not None:
                nh = dist[s] + 1
                if d not in frontier or nh < frontier[d]:
                    frontier[d] = nh
        new_dist = {}
        for n in nodes:
            cur = dist[n]
            nh = frontier.get(n) if n is not None else None
            if cur is None or (nh is not None and nh < cur):
                new_dist[n] = nh if cur is None else min(cur, nh)
            else:
                new_dist[n] = cur
        dist = new_dist
    rows = [
        (n, dist[n])
        for n in sorted(nodes, key=lambda x: (x is not None,
                                              -1 if x is None else x))
    ]
    return spark.createDataFrame(rows, "nation int, hops int")


def _bfs_duck() -> str:
    expand = []
    prev = "d0"
    for k in range(1, _BFS_ITERS + 1):
        expand.append(
            f"""d{k} AS (
  SELECT n.nation,
         CAST(least(n.hops, f.new_hops) AS INT) AS hops
  FROM (SELECT nation, min(hops) AS hops FROM {prev} GROUP BY nation) n
  LEFT JOIN (
    SELECT e.dst AS nation, min(p.hops) + 1 AS new_hops
    FROM edges e JOIN (SELECT nation, min(hops) AS hops FROM {prev}
                       GROUP BY nation) p
      ON e.src = p.nation
    WHERE p.hops IS NOT NULL
    GROUP BY e.dst
  ) f ON n.nation = f.nation
)"""
        )
        prev = f"d{k}"
    joined = ",\n".join(expand)
    return f"""
WITH raw AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY s.s_nationkey, c.c_nationkey
), ranked AS (
  -- dst ASC NULLS FIRST pins the w-tie order to Spark's ASC default
  -- (DuckDB defaults to NULLS LAST; reachable only when a hostile
  -- NULL-nationkey edge ties on w with a real edge)
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src
                            ORDER BY w DESC, dst ASC NULLS FIRST) AS rk
  FROM raw
), edges AS (
  SELECT src, dst FROM ranked WHERE rk <= {_BFS_TOPK}
), nodes AS (
  SELECT src AS nation FROM edges UNION SELECT dst FROM edges
), d0 AS (
  SELECT nation,
         CASE WHEN nation = {_BFS_SEED} THEN 0 ELSE NULL END AS hops
  FROM nodes
), {joined}
SELECT CAST(nation AS INT) AS nation, hops FROM {prev}
"""


_SEED = 3  # has out-edges at every fixture scale (nation 0 does not at sf0.001)


_MAX_HOPS = 3


_TOPK = 3


_RECURSIVE_SQL = f"""
WITH RECURSIVE routes(dst, hops, cost) AS (
  SELECT dst, 1 AS hops, CAST(1000000 DIV w AS BIGINT) AS cost
  FROM {{edges}} WHERE src = {_SEED}
  UNION ALL
  SELECT e.dst, r.hops + 1, r.cost + CAST(1000000 DIV e.w AS BIGINT)
  FROM routes r JOIN {{edges}} e ON r.dst = e.src
  WHERE r.hops < {_MAX_HOPS}
)
SELECT CAST(dst AS INT) AS nation,
       CAST(min(hops) AS INT) AS min_hops,
       CAST(min(cost) AS BIGINT) AS min_cost,
       CAST(COUNT(*) AS BIGINT) AS n_paths
FROM routes
GROUP BY dst
"""


_RECURSIVE_DUCK = f"""
WITH RECURSIVE edges AS (
  SELECT src, dst, w FROM (
    SELECT src, dst, w,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rk
    FROM (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY s.s_nationkey, c.c_nationkey
    )
  ) WHERE rk <= {_TOPK}
), routes(dst, hops, cost) AS (
  SELECT dst, 1 AS hops, CAST(1000000 // w AS BIGINT) AS cost
  FROM edges WHERE src = {_SEED}
  UNION ALL
  SELECT e.dst, r.hops + 1, r.cost + CAST(1000000 // e.w AS BIGINT)
  FROM routes r JOIN edges e ON r.dst = e.src
  WHERE r.hops < {_MAX_HOPS}
)
SELECT CAST(dst AS INT) AS nation,
       CAST(min(hops) AS INT) AS min_hops,
       CAST(min(cost) AS BIGINT) AS min_cost,
       CAST(COUNT(*) AS BIGINT) AS n_paths
FROM routes
GROUP BY dst
"""


# ``graph_recursive_route_cost`` exercises Spark 4's WITH RECURSIVE
# support — the declarative dual of the library's unrolled iterative
# loops (PageRank, connected components, BFS): the engine owns the
# fixpoint execution instead of the plan author. Semantics differ from
# ``graph_bfs_reachability`` on purpose: over the same top-3-routes
# graph it enumerates ALL paths from the seed up to 3 hops and
# aggregates per destination — minimum hops, minimum additive route
# cost (integer rarity cost 1e6 DIV weight per edge), and the path
# count. Both engines run the IDENTICAL recursive SQL text, so the
# oracle is the strongest possible parity check of the feature.
#
# Scale posture: depth is bounded in the recursion (hops < 3), so the
# working relation is (paths ≤ depth)-sized — with out-degree capped
# at 3 by the sparsifier that is ≤ 3+9+27 rows per seed. The edge
# relation itself comes from the shared session cache
# (``trade_edges_cached``); the recursion never touches the fact
# tables.
def graph_recursive_route_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All trade routes from the seed nation (``_SEED`` = 3, chosen
    because it has out-edges at every fixture scale) up to 3 hops via Spark 4's
    native WITH RECURSIVE, aggregated per destination (min hops, min
    additive rarity cost, path count). The engine owns the fixpoint;
    the recursion is bounded by the hops predicate and the
    sparsified, session-cached edge relation."""
    edges = topk_per_group(
        trade_edges_cached(spark, sf_dir),
        ["src"],
        [F.desc("w"), F.asc("dst")],
        _TOPK,
    ).select("src", "dst", "w")
    edges.createOrReplaceTempView("r18_routes_edges")
    return spark.sql(_RECURSIVE_SQL.format(edges="r18_routes_edges"))


# ---------------------------------------------------------------------------
# Connected components (regional trade blocs)
# ---------------------------------------------------------------------------

_CC_TOPK = 2


# Component vertex sets are bounded by a region (5 nations in every
# TPC-H fixture), so any component's diameter is <= 4; 6 min-label
# rounds converge with margin. The oracle is a true recursive-CTE
# fixpoint: if this unroll ever under-iterates, the driver gate
# hash-mismatches instead of both sides agreeing on a wrong answer.
_CC_ROUNDS = 6


#   * ``graph_connected_components`` — general undirected connected
#     components over the same-region trade graph (the regional-bloc
#     question), hash-min label propagation with per-round lineage
#     cuts. The DuckDB oracle computes the TRUE fixpoint via a
#     recursive CTE, so an under-iterated Spark loop cannot silently
#     pass — the strongest convergence check available.
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected connected components of the same-region trade graph
    (each nation's top-{_CC_TOPK} intra-region routes by weight,
    symmetrized, self-loops dropped): which nations form one trading
    bloc. Hash-min label propagation — comp' = min(comp, min over
    neighbours' comp). The DATA-sized stage (the lineitem⋈orders edge
    aggregation) stays distributed and session-cached; the graph it
    yields is bounded by 25² nation pairs at ANY fact volume, so the
    six propagation rounds run driver-side over that bounded summary
    (guide §1.2: the unrolled broadcast-join form scheduled ~33 tiny
    stage-jobs over ≤50 edges). The data-scale iterative shape lives
    where the graph is data-sized: ``graph_kcore_peeling`` and
    ``dedup_clusters`` keep the distributed join+min skeleton.

    DISTINCT node extraction (round-10 layer 2): a duplicate
    n_nationkey row is one NODE, not two — the oracle's recursive
    UNION + GROUP BY dedups, so an undeduped side would emit one
    component row per dim ROW on hostile dims."""
    # bounded collects: ≤ nations² edges, ≤ nations dim rows
    e_rows = trade_edges_cached(spark, sf_dir).collect()
    nat_rows = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    ).collect()
    # regions is a MULTImap: a (hostile) duplicate n_nationkey row
    # fans the equi-join out per matching dim row, exactly like the
    # oracle's JOIN nation a / JOIN nation b — the fanout feeds the
    # ROW_NUMBER sparsifier, so it must be replicated, not deduped
    regions: dict = {}
    for r in nat_rows:
        regions.setdefault(r["n_nationkey"], []).append(r["n_regionkey"])
    samereg = [
        (r["src"], r["dst"], r["w"])
        for r in e_rows
        # a NULL endpoint equi-joins nothing (SQL NULL never matches)
        if r["src"] is not None and r["dst"] is not None
        and r["src"] != r["dst"]
        for ra in regions.get(r["src"], ())
        for rb in regions.get(r["dst"], ())
        if ra is not None and ra == rb
    ]
    by_src: dict = {}
    for s, d, w in samereg:
        by_src.setdefault(s, []).append((d, w))
    und = set()
    for s, nbrs in by_src.items():
        nbrs.sort(key=lambda dw: (-dw[1], dw[0]))
        for d, _w in nbrs[:_CC_TOPK]:
            und.add((s, d))
            und.add((d, s))
    # a NULL nation key is a node that joins nothing: label stays NULL
    comp = {n: n for n in regions}
    for _ in range(_CC_ROUNDS):
        prop: dict = {}
        for s, d in und:
            c = comp[s]
            if d not in prop or c < prop[d]:
                prop[d] = c
        comp = {
            n: (min(c, prop[n]) if n in prop and c is not None else
                prop.get(n, c) if c is None else c)
            for n, c in comp.items()
        }
    # the oracle's final JOIN ... USING (comp) is an equi-join, so a
    # NULL comp (a NULL n_nationkey node) matches no size row and is
    # DROPPED — mirror that instead of inventing a (NULL, NULL, size)
    # row, and keep NULL comps out of the size counts likewise
    sizes: dict = {}
    for c in comp.values():
        if c is not None:
            sizes[c] = sizes.get(c, 0) + 1
    rows = [
        (n, comp[n], sizes[comp[n]])
        for n in sorted(comp, key=lambda x: (x is not None, x))
        if comp[n] is not None
    ]
    return spark.createDataFrame(
        rows, "nation int, comp int, comp_size bigint"
    )


_CC_DUCK = f"""
WITH RECURSIVE raw AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY s.s_nationkey, c.c_nationkey
), samereg AS (
  SELECT r.src, r.dst, r.w
  FROM raw r
  JOIN nation a ON a.n_nationkey = r.src
  JOIN nation b ON b.n_nationkey = r.dst
  WHERE a.n_regionkey = b.n_regionkey AND r.src != r.dst
), ranked AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rk
  FROM samereg
), keep AS (
  SELECT src, dst FROM ranked WHERE rk <= {_CC_TOPK}
), und AS (
  SELECT src, dst FROM keep UNION SELECT dst, src FROM keep
), nodes AS (
  SELECT n_nationkey AS nation FROM nation
), r AS (
  SELECT nation, nation AS comp FROM nodes
  UNION
  SELECT e.dst AS nation, r.comp FROM r JOIN und e ON e.src = r.nation
), comp AS (
  SELECT nation, MIN(comp) AS comp FROM r GROUP BY nation
)
SELECT CAST(c.nation AS INT) AS nation,
       CAST(c.comp AS INT) AS comp,
       CAST(s.comp_size AS BIGINT) AS comp_size
FROM comp c
JOIN (SELECT comp, COUNT(*) AS comp_size FROM comp GROUP BY comp) s
  USING (comp)
ORDER BY nation
"""


# ---------------------------------------------------------------------------
# Co-purchase similarity
# ---------------------------------------------------------------------------

_COPURCHASE_TOPK = 20


_COP_CORE = f"""
WITH deg AS (
  SELECT p, COUNT(*) AS n FROM {{li}} GROUP BY p
), pairs AS (
  SELECT a.p AS pa, b.p AS pb, COUNT(*) AS co
  FROM {{li}} a JOIN {{li}} b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
), scored AS (
  SELECT pa, pb, co,
         co * 1000000 {{idiv}} (da.n + db.n - co) AS jaccard_micro
  FROM pairs
  JOIN deg da ON da.p = pairs.pa
  JOIN deg db ON db.p = pairs.pb
)
SELECT CAST(pa AS BIGINT) AS part_a, CAST(pb AS BIGINT) AS part_b,
       CAST(co AS BIGINT) AS n_coorders,
       CAST(jaccard_micro AS BIGINT) AS jaccard_micro
FROM scored
ORDER BY n_coorders DESC, jaccard_micro DESC, part_a, part_b
LIMIT {_COPURCHASE_TOPK}
"""


# Same scoring as _COP_CORE's tail, but consuming the session-cached
# counted pair list instead of re-running the order self-join.
_COP_SCORE = f"""
WITH deg AS (
  SELECT p, COUNT(*) AS n FROM {{li}} GROUP BY p
), scored AS (
  SELECT pa, pb, co,
         co * 1000000 {{idiv}} (da.n + db.n - co) AS jaccard_micro
  FROM {{pairs}} pairs
  JOIN deg da ON da.p = pairs.pa
  JOIN deg db ON db.p = pairs.pb
)
SELECT CAST(pa AS BIGINT) AS part_a, CAST(pb AS BIGINT) AS part_b,
       CAST(co AS BIGINT) AS n_coorders,
       CAST(jaccard_micro AS BIGINT) AS jaccard_micro
FROM scored
ORDER BY n_coorders DESC, jaccard_micro DESC, part_a, part_b
LIMIT {_COPURCHASE_TOPK}
"""


def copurchase_incidence(spark: SparkSession, sf_dir: str):
    """Session-cached DISTINCT (order o, part p) incidence relation —
    shared by the three co-purchase graph operators (similarity,
    assortativity, k-core) via ``cache.shared``, so one sweep builds
    it once."""
    def build():
        return (
            load_table(spark, sf_dir, "lineitem")
            .select(
                F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
            )
            .distinct()
        )

    return shared(spark, sf_dir, "copurchase_incidence", build)


def copurchase_pairs(spark: SparkSession, sf_dir: str):
    """Session-cached undirected co-purchase edge list (pa < pb, with
    the co-order count ``co``) from the basket-bounded order
    self-join — the expensive shared stage of the graph family (one
    build per session; consumers: similarity, assortativity, k-core
    rounds x2). Carrying ``co`` costs one int64 per edge and lets
    the similarity query reuse this build instead of re-running the
    self-join per invocation (guide §2.4: the single most expensive
    recomputation in the graph family)."""
    def build():
        copurchase_incidence(spark, sf_dir).createOrReplaceTempView(
            "__cop_pairs_li"
        )
        return spark.sql(
            """
            SELECT a.p AS pa, b.p AS pb, COUNT(*) AS co
            FROM __cop_pairs_li a JOIN __cop_pairs_li b
              ON a.o = b.o AND a.p < b.p
            GROUP BY a.p, b.p
            """
        )

    return shared(spark, sf_dir, "copurchase_pairs", build)


#   * ``graph_copurchase_similarity`` — item-item collaborative
#     filtering counts: parts co-occurring in the same order, Jaccard
#     over per-part order sets, top-20. The candidate generator is
#     bounded by order size (intra-order pairs), never all-pairs.
def graph_copurchase_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Item-item co-purchase similarity: the classic collaborative
    filtering counting job. The (order, part) incidence relation is
    DISTINCTed once and persisted (its three consumers — degree
    counts and both self-join sides — reuse it); candidate pairs
    come from the order-key self-join, so work per order is
    O(basket_size^2) with TPC-H baskets <= 7 — bounded fan-out, one
    shuffle on the order key, never an all-pairs part join. Degrees
    join back on the part key (a dimension-sized relation Catalyst
    broadcasts). Jaccard is exact integer micros; top-20 is
    TakeOrderedAndProject with a full deterministic tie-break. At
    100 TB this is the co-occurrence shape recommendation pipelines
    run nightly; a pathological mega-basket would need a per-order
    pair cap, noted here as the production guard. Both shared stages
    are session-cached: the incidence relation
    (`copurchase_incidence`, feeding the degree counts) and the
    counted pair list (`copurchase_pairs` — the same self-join this
    query used to re-run per invocation, now carrying ``co``)."""
    copurchase_incidence(spark, sf_dir).createOrReplaceTempView(
        "r42_cop_li"
    )
    copurchase_pairs(spark, sf_dir).createOrReplaceTempView(
        "r42_cop_pairs"
    )
    return spark.sql(
        _COP_SCORE.format(li="r42_cop_li", pairs="r42_cop_pairs",
                          idiv="DIV")
    )


_COP_DUCK = (
    """
WITH cop_li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
)"""
    + _COP_CORE.replace("WITH deg AS (", ", deg AS (", 1).format(
        li="cop_li", idiv="//"
    )
)


# ---------------------------------------------------------------------------
# Degree assortativity
# ---------------------------------------------------------------------------

_ASSORT_DEG_SQL = """
  SELECT p, COUNT(*) AS d FROM (
    SELECT pa AS p FROM {pairs} UNION ALL SELECT pb AS p FROM {pairs}
  ) GROUP BY p
"""


# The symmetrized (both-directions) power sums are folded
# algebraically into ONE pass over the directed edge list:
# sx_both = Σx+Σy, sxy_both = 2Σxy, sxx_both = syy_both = Σx²+Σy²,
# m = 2·|edges| — integer-identical to materializing the reversed
# copy, without re-deriving the two degree joins a second time.
_ASSORT_CORE = """
WITH edges AS (
  SELECT /*+ BROADCAST(da), BROADCAST(db) */ da.d AS x, db.d AS y
  FROM {pairs} pr
  JOIN {deg} da ON da.p = pr.pa
  JOIN {deg} db ON db.p = pr.pb
), s AS (
  SELECT 2 * COUNT(*) AS m,
         SUM(x) + SUM(y) AS sx,
         SUM(x) + SUM(y) AS sy,
         2 * SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
         SUM(CAST(x AS DECIMAL(38,0)) * x)
           + SUM(CAST(y AS DECIMAL(38,0)) * y) AS sxx,
         SUM(CAST(x AS DECIMAL(38,0)) * x)
           + SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
  FROM edges
)
SELECT CAST((SELECT COUNT(*) FROM {deg}) AS BIGINT) AS n_nodes,
       CAST(m / 2 AS BIGINT) AS n_edges,
       CAST(floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  * 1000000) AS BIGINT) AS assortativity_micro
FROM s
"""


#   * ``graph_degree_assortativity`` — Newman's degree assortativity
#     of the co-purchase graph: do popular parts co-sell with popular
#     parts? Pearson correlation over directed edge endpoints from
#     exact DECIMAL power sums.
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph (Pearson r
    of endpoint degrees over directed edges; negative = hubs connect
    to leaves, the typical retail shape). Candidate edges come from
    the basket-bounded order self-join over the persisted DISTINCT
    incidence relation (the `graph_copurchase_similarity` shape);
    degrees and the five power sums are exact integers
    (DECIMAL(38,0) for the products), the coefficient one fixed-
    shape float. Everything after the pair groupBy is edge-sized;
    the edge list itself is the session-shared `copurchase_pairs`
    cache (one build serves similarity, assortativity and k-core),
    and the node-sized degree relation is persisted so the two
    degree joins (and the node count) read one computation — the
    both-directions sums fold algebraically into a single pass over
    the directed edges (see ``_ASSORT_CORE``)."""
    copurchase_pairs(spark, sf_dir).createOrReplaceTempView(
        "r46_assort_pairs"
    )
    track_persist(
        spark.sql(_ASSORT_DEG_SQL.format(pairs="r46_assort_pairs"))
    ).createOrReplaceTempView("r46_assort_deg")
    return spark.sql(
        _ASSORT_CORE.format(pairs="r46_assort_pairs", deg="r46_assort_deg")
    )


_ASSORT_DUCK = (
    """
WITH assort_pairs AS (
  SELECT a.p AS pa, b.p AS pb
  FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) b
    ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
), assort_deg AS (
"""
    + _ASSORT_DEG_SQL.format(pairs="assort_pairs")
    + ")"
    + _ASSORT_CORE.replace("WITH edges AS (", ", edges AS (", 1).format(
        pairs="assort_pairs", deg="assort_deg"
    )
)


# ---------------------------------------------------------------------------
# k-core peeling
# ---------------------------------------------------------------------------

_KCORE_ROUNDS = 6


#   * ``graph_kcore_peeling`` — iterative k-core peeling of the
#     co-purchase graph with a DATA-DERIVED k (1.1x the average
#     degree, so the peeling is non-trivial at every fixture scale).
#     Six rounds; each round keeps nodes whose degree WITHIN the
#     surviving subgraph is >= k. Spark materializes (persists) each
#     round's survivor set — expressing the chain as CTEs would
#     re-inline round r-1 TWICE per round and recompute the cascade
#     2^6 times; the DuckDB oracle pins the same semantics with
#     ``AS MATERIALIZED`` CTEs.
def graph_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six peeling rounds toward the k-core of the co-purchase graph,
    k = 0.8x average degree (integer-derived from edge/node counts,
    so both engines agree exactly). Every round is edge-sized work:
    join the persisted edge list against the current survivor set on
    both endpoints, recount degrees, keep >= k. Per-round persists
    cut the lineage (the BFS/label-propagation discipline); the
    output row per round reports the survivor count, so convergence
    — or collapse to empty — is visible data, not a claim. At 100 TB
    this is the standard iterative-subgraph shape: state = one node
    list, work = one edge join per round. The edge list is the
    session-shared `copurchase_pairs` cache (one build serves
    similarity, assortativity and the six rounds here)."""

    pairs = copurchase_pairs(spark, sf_dir)
    deg = pairs.selectExpr("pa AS node").unionAll(
        pairs.selectExpr("pb AS node")
    )
    # k is ONE bounded scalar (integer-derived, identical in both
    # engines). Pull it once: as a one-row relation it cost a
    # broadcast-exchange job in EVERY round plus the final crossJoin
    # (each round is its own query execution, so the exchange is
    # rebuilt, never reused) — 7 of the ~20 tiny jobs this loop
    # schedules, all for the same constant.
    #
    # Round 11: the k pull and the initial survivor set each ran a
    # FULL groupBy/distinct pass over the 2|E|-row endpoint relation
    # (measured ~2s each at sf0.1). One node-sized degree relation
    # now feeds both — the checkpoint materializes during the k pull,
    # and surv0 = its keys is set-identical to deg.distinct() (a
    # groupBy's grouping keys ARE the distinct endpoints).
    d0 = deg.groupBy("node").count().localCheckpoint(eager=False)
    kv = (
        d0.agg(
            F.count("*").alias("n"),
            F.sum("count").alias("twom"),
        )
        .select(F.expr("(twom DIV n) * 8 DIV 10").alias("kv"))
        .first()[0]
    )
    # empty graph: the old one-row kdf relation held NULL here, so
    # every round filtered to zero survivors and k reported NULL —
    # F.lit(None) reproduces both (NULL comparison is never true)
    surv = d0.select("node")
    out = None
    for r in range(1, _KCORE_ROUNDS + 1):
        # surv is node-sized; without stats on a checkpointed
        # relation Spark would sort-merge both endpoint joins every
        # round — broadcast it explicitly (measured 8s -> ~2s for
        # the six rounds at sf0.1). The pa/pb renames canonicalize to
        # the same exchange, so the second join is a ReusedExchange —
        # one broadcast job per round, not two.
        e = (
            pairs.join(F.broadcast(surv.withColumnRenamed("node", "pa")), "pa")
            .join(F.broadcast(surv.withColumnRenamed("node", "pb")), "pb")
        )
        # explode(array(pa, pb)) emits both endpoints in ONE pass —
        # the union-of-two-selects form re-derives the endpoint join
        # twice per round.
        ends = e.select(
            F.explode(F.array("pa", "pb")).alias("node")
        )
        # surv is referenced TWICE per round (both endpoint joins);
        # left alone the duplicated subtree doubles every round (2^6
        # plan copies blew the driver heap at sf0.001 before this
        # cut). Lazy localCheckpoint keeps the plan linear in rounds
        # — the relational17 BFS discipline; the checkpointed
        # relation is node-sized.
        surv = (
            ends.groupBy("node")
            .count()
            .where(F.col("count") >= F.lit(kv))
            .select("node")
            .localCheckpoint(eager=False)
        )
        row = surv.agg(F.count("*").alias("n_core")).select(
            F.lit(r).cast("bigint").alias("round"),
            F.col("n_core").cast("bigint"),
        )
        out = row if out is None else out.unionAll(row)
    return out.select(
        "round", F.lit(kv).cast("bigint").alias("k"), "n_core"
    ).orderBy("round")


def _kcore_duck() -> str:
    ctes = [
        """li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), pairs AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
), deg AS MATERIALIZED (
  SELECT node, COUNT(*) AS d FROM (
    SELECT pa AS node FROM pairs UNION ALL SELECT pb AS node FROM pairs
  ) GROUP BY node
), k AS MATERIALIZED (
  SELECT CAST((SUM(d) // COUNT(*)) * 8 // 10 AS BIGINT) AS kv FROM deg
), s0 AS MATERIALIZED (SELECT node FROM deg)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes.append(f"""s{r} AS MATERIALIZED (
  SELECT node FROM (
    SELECT e.pa AS node FROM pairs e
      JOIN s{r - 1} x ON e.pa = x.node JOIN s{r - 1} y ON e.pb = y.node
    UNION ALL
    SELECT e.pb FROM pairs e
      JOIN s{r - 1} x ON e.pa = x.node JOIN s{r - 1} y ON e.pb = y.node
  ) GROUP BY node
  HAVING COUNT(*) >= (SELECT kv FROM k)
)""")
    finals = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" (SELECT kv FROM k) AS k,"
        f" CAST(COUNT(*) AS BIGINT) AS n_core FROM s{r}"
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    return "WITH " + ", ".join(ctes) + "\n" + finals + "\nORDER BY round"


# ---------------------------------------------------------------------------
# Community modularity
# ---------------------------------------------------------------------------

_MODULARITY_CORE = """
WITH und AS (
  SELECT src AS a, dst AS b, w FROM {edges}
  UNION ALL
  SELECT dst AS a, src AS b, w FROM {edges}
), comm AS (
  SELECT n_nationkey AS node, n_regionkey AS c FROM {nation}
), t AS (
  SELECT SUM(w) AS t_total FROM und
), intra AS (
  SELECT ca.c AS c, SUM(u.w) AS intra_w
  FROM und u
  JOIN comm ca ON ca.node = u.a
  JOIN comm cb ON cb.node = u.b
  WHERE ca.c = cb.c
  GROUP BY ca.c
), deg AS (
  SELECT cm.c AS c, SUM(u.w) AS deg_w
  FROM und u JOIN comm cm ON cm.node = u.a
  GROUP BY cm.c
), per_c AS (
  SELECT d.c,
         COALESCE(i.intra_w, 0) AS intra_w,
         d.deg_w,
         CAST(t_total AS DECIMAL(38,0)) * COALESCE(i.intra_w, 0)
           - CAST(d.deg_w AS DECIMAL(38,0)) * d.deg_w
           AS contrib_num,
         t_total
  FROM deg d LEFT JOIN intra i ON i.c = d.c CROSS JOIN t
)
SELECT r.r_name AS region,
       CAST(intra_w AS BIGINT) AS intra_w,
       CAST(deg_w AS BIGINT) AS deg_w,
       CASE WHEN contrib_num >  CAST(9223372036854775807 AS DECIMAL(38,0))
              OR contrib_num < CAST(-9223372036854775807 AS DECIMAL(38,0))
                               - CAST(1 AS DECIMAL(38,0))
            THEN CAST({err}('graph_community_modularity: contrib_num exceeds BIGINT')
                      AS BIGINT)
            ELSE CAST(contrib_num AS BIGINT) END AS contrib_num,
       CAST(t_total AS BIGINT) AS t_total,
       CAST(floor(CAST(SUM(contrib_num) OVER () AS DOUBLE)
                  / (CAST(t_total AS DOUBLE) * t_total)
                  * 1000000) AS BIGINT) AS modularity_ppm
FROM per_c JOIN {region} r ON r.r_regionkey = per_c.c
ORDER BY region
"""


#   * ``graph_community_modularity`` — Newman modularity of the
#     region partition over the symmetrized nation trade graph.  The
#     per-community numerators (T·intra_c − deg_c²) accumulate in
#     exact DECIMAL(38,0); only the final ppm ratio is one
#     fixed-shape float.
def graph_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the region partition over the
    symmetrized nation trade graph: Q = Σ_c(intra_c/T − (deg_c/T)²)
    with T = Σ A_ij.  Per-community numerators T·intra_c − deg_c²
    accumulate in DECIMAL(38,0) — T is ~2× lineitem rows, so the
    int64 product would wrap around sf500; DECIMAL keeps it exact to
    ~1e38 and the reported BIGINT column raises identically in BOTH
    engines (raise_error / error) if a value ever exceeds int64
    instead of Spark silently wrapping while DuckDB errors.  Only the
    final ppm ratio is one fixed-shape float.  Consumes the
    session-shared
    ``trade_edges`` cache (one lineitem⋈orders build serves
    PageRank, BFS, routes and this), then everything is
    nations²-sized with broadcast community/region maps."""

    trade_edges_cached(spark, sf_dir).createOrReplaceTempView(
        "r50_mod_edges"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "r50_mod_nation"
    )
    load_table(spark, sf_dir, "region").createOrReplaceTempView(
        "r50_mod_region"
    )
    return spark.sql(
        _MODULARITY_CORE.format(
            edges="r50_mod_edges",
            nation="r50_mod_nation",
            region="r50_mod_region",
            err="raise_error",
        )
    )


_MODULARITY_DUCK = (
    """
WITH trade_edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY s.s_nationkey, c.c_nationkey
)"""
    + _MODULARITY_CORE.replace("WITH und AS (", ", und AS (", 1).format(
        edges="trade_edges", nation="nation", region="region", err="error"
    )
)


# ---------------------------------------------------------------------------
# Graph reciprocity
# ---------------------------------------------------------------------------

_RECIP_CORE = """
WITH e AS (
  SELECT src, dst, w FROM {edges} WHERE src != dst
), m AS (
  SELECT a.src, a.dst, a.w, COALESCE(b.w, 0) AS w_rev
  FROM e a LEFT JOIN e b ON b.src = a.dst AND b.dst = a.src
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_directed_edges,
       CAST(SUM(CASE WHEN w_rev > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reciprocated,
       CAST(1000000 * SUM(CASE WHEN w_rev > 0 THEN 1 ELSE 0 END)
            {idiv} COUNT(*) AS BIGINT) AS edge_reciprocity_ppm,
       CAST(SUM(w) AS BIGINT) AS total_weight,
       CAST(SUM(CASE WHEN w < w_rev THEN w ELSE w_rev END) AS BIGINT)
         AS reciprocated_weight,
       CAST(1000000 * SUM(CASE WHEN w < w_rev THEN w ELSE w_rev END)
            {idiv} SUM(w) AS BIGINT) AS weight_reciprocity_ppm
FROM m
"""


#   * ``graph_reciprocity`` — weighted and unweighted reciprocity of
#     the directed nation trade graph (how much flow comes back):
#     Σ min(w_ij, w_ji) / Σ w_ij in exact integers over the
#     session-shared edge cache.
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted and unweighted reciprocity of the directed nation
    trade graph: what fraction of edges (and of flow,
    Σ min(w_ij, w_ji)/Σ w_ij) comes back the other way.  Exact
    integer arithmetic over the session-shared nations²-sized
    ``trade_edges`` cache — one self-join on the reversed pair,
    self-loops excluded."""

    trade_edges_cached(spark, sf_dir).createOrReplaceTempView(
        "r53_recip_edges"
    )
    return spark.sql(_RECIP_CORE.format(edges="r53_recip_edges", idiv="DIV"))


_RECIP_DUCK = (
    """
WITH trade_edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY s.s_nationkey, c.c_nationkey
)"""
    + _RECIP_CORE.replace("WITH e AS (", ", e AS (", 1).format(
        edges="trade_edges", idiv="//"
    )
)


QUERIES = {
    "graph_pagerank_nations": graph_pagerank_nations,
    "graph_triangle_count": graph_triangle_count,
    "graph_hierarchy_rollup": graph_hierarchy_rollup,
    "graph_bfs_reachability": graph_bfs_reachability,
    "graph_recursive_route_cost": graph_recursive_route_cost,
    "graph_connected_components": graph_connected_components,
    "graph_copurchase_similarity": graph_copurchase_similarity,
    "graph_degree_assortativity": graph_degree_assortativity,
    "graph_kcore_peeling": graph_kcore_peeling,
    "graph_community_modularity": graph_community_modularity,
    "graph_reciprocity": graph_reciprocity,
}

ORACLE = {
    "graph_pagerank_nations": _pagerank_sql(),
    "graph_triangle_count": _TRIANGLE_SQL,
    "graph_hierarchy_rollup": _HIERARCHY_SQL,
    "graph_bfs_reachability": _bfs_duck(),
    "graph_recursive_route_cost": _RECURSIVE_DUCK,
    "graph_connected_components": _CC_DUCK,
    "graph_copurchase_similarity": _COP_DUCK,
    "graph_degree_assortativity": _ASSORT_DUCK,
    "graph_kcore_peeling": _kcore_duck(),
    "graph_community_modularity": _MODULARITY_DUCK,
    "graph_reciprocity": _RECIP_DUCK,
}
