"""Graph analytics over derived relationship graphs.

The reference's flagship pipelines are multi-hop graph traversals
(x2.2.py target→disease→drug walks); beyond the traversal surface
(`join_multi_hop`, `candidate_parts`) and the iterative
connected-components clustering (`plans/cc_clusters.py`), this module
adds weighted centrality — PageRank over the nation-level trade graph
(customer nation → supplier nation, weighted by lineitem count).

Cross-engine determinism: ranks are SCALED BIGINTS (SCALE = 1e12) and
every update uses integer multiply/divide only, so iteration results
are exact and order-independent — the same discipline as the engine's
DECIMAL sums, applied to an iterative fixpoint. The oracle unrolls the
same three iterations as chained CTEs.

Scale shape: the edge list is a fact-fact join (lineitem ⋈ orders)
with both dimension hops broadcast, then collapses to ≤ nations² rows;
iterations run on that dimension-sized edge table — at 100 TB the
heavy work is the one aggregation that builds the edges, not the
iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import persist
from ..spec import QuerySpec

SCALE = 10**12
N_ITER = 3


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 unrolled iterations) on the
    nation trade graph; returns each nation's scaled rank and share."""
    nodes = load(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("node"))
    nn = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        _rank_rounds(
            spark,
            sf_dir,
            nodes,
            nn,
            f"{SCALE} div n_nodes",
            f"(({SCALE} * 15) div 100) div n_nodes",
        )
        .select(
            "node",
            "n_name",
            "rank",
            F.round(F.col("rank") / F.lit(float(SCALE)), 6).alias("rank_share"),
        )
        .orderBy(F.desc("rank"), "node")
    )


def _rank_rounds(
    spark: SparkSession,
    sf_dir: str,
    nodes: DataFrame,
    consts: DataFrame,
    init: str,
    teleport: str,
) -> DataFrame:
    """N_ITER unrolled rounds of weighted rank flow on the trade
    graph — the one loop behind ``graph_pagerank`` and ``graph_ppr``.
    ``nodes`` carries the per-node columns, ``consts`` a one-row
    relation cross-joined onto every round; ``init`` is the round-0
    rank and ``teleport`` the per-round restart mass (both SQL over
    those columns). Each round a node keeps ``teleport + 85% of its
    inflow``, the inflow being every in-neighbour's rank split by edge
    weight (integer div). Returns the final ranks with ``n_name``."""
    edges = persist(_trade_edges(spark, sf_dir))  # (b) scans 10 -> 12 without it
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    keep = [*nodes.columns, *consts.columns]
    ranks = nodes.crossJoin(consts).select(*keep, F.expr(init).alias("rank"))
    for _ in range(N_ITER):
        contrib = (
            ranks.join(F.broadcast(edges), ranks.node == edges.src)
            .join(F.broadcast(out_w), "src")
            .select(
                "dst",
                # DECIMAL(38,0) promotion: rank ~ 1e12 (SCALE) times a
                # fact-scale edge weight overflows int64 around w ~ 1e7
                # (sf >= ~1000); decimal keeps the product exact and div
                # still returns the integral quotient as BIGINT. Mirrored
                # in the oracle with HUGEINT (graph_hits documents the
                # same promotion for its h*w sums).
                F.expr(
                    "(cast(rank as decimal(38,0)) * w) div out_w"
                ).alias("c"),
            )
        )
        inflow = contrib.groupBy("dst").agg(F.sum("c").alias("inflow"))
        ranks = (
            nodes.join(F.broadcast(inflow), nodes.node == inflow.dst, "left")
            .crossJoin(consts)
            .select(
                *keep,
                F.expr(f"{teleport} + (85 * coalesce(inflow, 0)) div 100").alias("rank"),
            )
        )
    names = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    return ranks.join(names, "node")


def _pagerank_oracle() -> str:
    iters = []
    prev = "r0"
    for i in range(1, N_ITER + 1):
        iters.append(f"""
r{i} AS (
    SELECT n.node, n.n_nodes,
           (({SCALE} * 15) // 100) // n.n_nodes
           + (85 * COALESCE(a.inflow, 0)) // 100 AS rank
    FROM nodes n
    LEFT JOIN (
        SELECT e.dst, CAST(SUM((CAST(p.rank AS HUGEINT) * e.w) // o.out_w) AS BIGINT) AS inflow
        FROM {prev} p
        JOIN edges e ON p.node = e.src
        JOIN out_w o ON e.src = o.src
        GROUP BY e.dst
    ) a ON n.node = a.dst
)""")
        prev = f"r{i}"
    return f"""
WITH edges AS (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY c.c_nationkey, s.s_nationkey
),
out_w AS (
    SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src
),
nodes AS (
    SELECT n_nationkey AS node,
           (SELECT COUNT(*) FROM nation) AS n_nodes
    FROM nation
),
r0 AS (
    SELECT node, n_nodes, {SCALE} // n_nodes AS rank FROM nodes
),{",".join(iters)}
SELECT r.node, n.n_name, r.rank,
       round(r.rank / {float(SCALE)}, 6) AS rank_share
FROM {prev} r JOIN nation n ON r.node = n.n_nationkey
ORDER BY r.rank DESC, r.node
"""


SPECS = [
    QuerySpec(
        "graph_pagerank",
        graph_pagerank,
        _pagerank_oracle(),
    ),
]


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the undirected trade graph: the
    canonical edge list (least, greatest) self-joins twice with the
    a<b<c ordering constraint — each triangle enumerated exactly once
    — then explodes its three corners into a per-node count. The same
    node-iterator shape MapReduce triangle counting uses: the edge
    table (≤ nations² rows after the weight aggregate) is dimension-
    sized, so both joins broadcast; the heavy work stays in the one
    fact-fact aggregate that built the edges."""
    # (b) latency 0.44 -> 0.49 s without it
    und = persist(_undirected_pairs(spark, sf_dir).distinct())
    e1 = und.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    e2 = und.select(F.col("a").alias("t_b2"), F.col("b").alias("t_c"))
    e3 = und.select(F.col("a").alias("t_a3"), F.col("b").alias("t_c3"))
    tri = (
        e1.join(F.broadcast(e2), F.col("t_b") == F.col("t_b2"))
        .join(
            F.broadcast(e3),
            (F.col("t_a") == F.col("t_a3")) & (F.col("t_c") == F.col("t_c3")),
        )
        .select("t_a", "t_b", "t_c")
    )
    corners = tri.select(
        F.explode(F.array("t_a", "t_b", "t_c")).alias("node")
    )
    return (
        corners.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("node")
    )


GRAPH_TRIANGLE_COUNT_ORACLE = """
WITH und AS (
    SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                    greatest(c.c_nationkey, s.s_nationkey) AS b
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
),
tri AS (
    SELECT e1.a AS t_a, e1.b AS t_b, e2.b AS t_c
    FROM und e1
    JOIN und e2 ON e1.b = e2.a
    JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b
),
corners AS (
    SELECT unnest([t_a, t_b, t_c]) AS node FROM tri
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node ORDER BY node
"""

SPECS.append(
    QuerySpec(
        "graph_triangle_count",
        graph_triangle_count,
        GRAPH_TRIANGLE_COUNT_ORACLE,
    )
)


# BFS shortest path: seed nation, depth bound, out-degree cap that
# keeps the traversal graph sparse at any scale factor.
BFS_SEED = 0
BFS_DEPTH = 4
BFS_FANOUT = 3


def graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS shortest path from a seed nation over the
    trade graph, restricted to each nation's top-3 trade partners
    (w desc, dst asc — explicit total order). Spark has no recursive
    CTE, so the iteration is unrolled: 4 rounds of
    dist ∪ (dist ⋈ edges) → min(dist), every round a broadcast join
    over the dimension-sized frontier. The oracle is DuckDB's
    ``WITH RECURSIVE`` — an independent formulation of the same
    traversal. At 100 TB the one fact-fact aggregate that builds the
    edge list dominates; the unrolled rounds stay dimension-sized."""
    weighted = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    rn = F.row_number().over(Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst")))
    edges = weighted.withColumn("rn", rn).filter(F.col("rn") <= BFS_FANOUT).select("src", "dst")
    nation = load(spark, sf_dir, "nation")
    dist = nation.filter(F.col("n_nationkey") == BFS_SEED).select(
        F.col("n_nationkey").alias("node"), F.lit(0).alias("dist")
    )
    for _ in range(BFS_DEPTH):
        hop = (
            dist.join(F.broadcast(edges), dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = dist.unionByName(hop).groupBy("node").agg(F.min("dist").alias("dist"))
    return (
        dist.join(nation, dist.node == nation.n_nationkey)
        .select("node", "n_name", F.col("dist").cast("int").alias("dist"))
        .orderBy("dist", "node")
    )


GRAPH_SHORTEST_PATH_ORACLE = f"""
WITH RECURSIVE edges AS (
    SELECT src, dst
    FROM (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY c.c_nationkey, s.s_nationkey
    )
    QUALIFY row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) <= {BFS_FANOUT}
),
walk(node, dist) AS (
    SELECT n_nationkey AS node, 0 AS dist FROM nation WHERE n_nationkey = {BFS_SEED}
    UNION ALL
    SELECT e.dst, w.dist + 1 FROM walk w JOIN edges e ON e.src = w.node
    WHERE w.dist < {BFS_DEPTH}
)
SELECT b.node, n.n_name, CAST(MIN(b.dist) AS INTEGER) AS dist
FROM walk b JOIN nation n ON b.node = n.n_nationkey
GROUP BY b.node, n.n_name
ORDER BY dist, node
"""

SPECS.append(
    QuerySpec(
        "graph_shortest_path",
        graph_shortest_path,
        GRAPH_SHORTEST_PATH_ORACLE,
    )
)


def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the undirected trade graph — the graph
    profiling primitive (skew diagnosis for every other graph op: a
    heavy-tailed degree histogram predicts hot keys in PageRank's
    contribution shuffle and blowup in triangle enumeration). Two
    dimension-sized aggregates after the one fact-fact edge build:
    per-node degree, then nodes per degree."""
    und = _undirected_pairs(spark, sf_dir).distinct()
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


LPA_ITER = 3
LPA_FANOUT = 1


def _sparsified_pairs(spark: SparkSession, sf_dir: str):
    """Undirected weighted pair list + its k=LPA_FANOUT-sparsified
    kept pair set — the ONE construction shared by
    ``graph_label_propagation`` and ``graph_link_prediction`` (and
    mirrored verbatim by both their oracles), so a fanout or tiebreak
    change cannot silently diverge between the two operators. Built
    on ``_trade_edges``: the undirected weight is the sum of the two
    directed counts (identical values, and the directed aggregate is
    the same map-side-combinable shuffle)."""
    # (b) label propagation's scans 9 -> 10 without it
    pairs = persist(
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    dirs = (
        pairs.select("a", "b", "w")
        .unionByName(
            pairs.select(F.col("b").alias("a"), F.col("a").alias("b"), F.col("w"))
        )
        .select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
    )
    krn = F.row_number().over(
        Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    )
    kept = (
        dirs.withColumn("krn", krn)
        .filter(F.col("krn") <= LPA_FANOUT)
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    return pairs, kept


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection (Raghavan et al. 2007)
    over the undirected weighted trade graph — the clustering
    primitive the reference's disease→drug neighborhoods imply but
    never compute (its walks stop at fixed depth, x2.2.py:168-210).

    SYNCHRONOUS variant with a total-order tiebreak so the fixpoint is
    deterministic and cross-engine exact: every node simultaneously
    adopts the neighbor label with the greatest incident edge weight
    (ties → smallest label); 3 unrolled rounds, mirroring the engine's
    other bounded fixpoints (PageRank above, BFS below). Classic async
    LPA is order-dependent — useless for a hash-matched oracle.

    The near-complete trade graph collapses to ONE community under any
    LPA, so the graph is first sparsified to each node's single
    strongest trade partner (w desc, partner asc — the kNN-graph
    sparsification BFS uses, at k=1: the standard preprocessing for
    community detection on dense similarity graphs, where the mutual-
    best-edge forest is the community skeleton). An edge survives if
    EITHER endpoint ranks it.

    Scale shape: the one fact-fact aggregate that builds the weighted
    edge list dominates; each round is a broadcast join + a
    dimension-sized (node,label) aggregate + an argmax window over at
    most |E| rows. At 100 TB over a node-scale graph the same plan
    holds with the edge list hash-partitioned by dst instead of
    broadcast — the per-round shuffle key (dst) never changes, so the
    exchange is reused across rounds.

    Scale shape addendum (sparsification): the top-k per node is one
    window over the dimension-sized edge list; at node-scale graphs it
    is the standard per-key top-k shuffle, bounded output k·|V|."""
    pairs, kept = _sparsified_pairs(spark, sf_dir)
    sparse = F.broadcast(kept).join(pairs, ["a", "b"])
    # (b) shuffles 13 -> 21 without it
    edges = persist(
        sparse.select("a", "b", "w")
        .unionByName(
            sparse.select(
                F.col("b").alias("a"), F.col("a").alias("b"), F.col("w")
            )
        )
        .select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
    )
    nodes = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node")
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    rn = F.row_number().over(
        Window.partitionBy("src").orderBy(F.desc("wsum"), F.asc("label"))
    )
    for i in range(LPA_ITER):
        nbrs = labels.select(F.col("node").alias("nbr"), "label")
        best = (
            # round 1's labels are nation itself, which the planner
            # broadcasts unasked; later rounds' labels come from the
            # edge aggregate, whose size it cannot see
            edges.join(F.broadcast(nbrs) if i else nbrs, edges.dst == F.col("nbr"))
            .groupBy("src", "label")
            .agg(F.sum("w").alias("wsum"))
            .withColumn("rn", rn)
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("node"), F.col("label").alias("new_label"))
        )
        labels = (
            nodes.join(F.broadcast(best), "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "node").alias("label"),
            )
        )
    names = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    return (
        labels.join(names, "node")
        .select("node", "n_name", F.col("label").alias("community"))
        .orderBy("node")
    )


def _lpa_oracle() -> str:
    """Chained-CTE twin of the unrolled rounds. Every CTE is
    MATERIALIZED: DuckDB inlines plain CTEs per reference, and the
    l3→l2→l1 chain multiplied the edge-build fact join exponentially —
    un-materialized, this oracle hangs (>120s, tens of GB) at sf0.1;
    materialized it runs in 0.2s."""
    iters = []
    prev = "l0"
    for i in range(1, LPA_ITER + 1):
        iters.append(f"""
l{i} AS MATERIALIZED (
    SELECT n.node, COALESCE(b.label, n.node) AS label
    FROM nodes n LEFT JOIN (
        SELECT src AS node, label FROM (
            SELECT src, label, row_number() OVER (
                PARTITION BY src ORDER BY wsum DESC, label) AS rn
            FROM (
                SELECT e.src, l.label, CAST(SUM(e.w) AS BIGINT) AS wsum
                FROM edges e JOIN {prev} l ON e.dst = l.node
                GROUP BY e.src, l.label
            )
        ) WHERE rn = 1
    ) b ON n.node = b.node
)""")
        prev = f"l{i}"
    return f"""
WITH pairs AS MATERIALIZED (
    SELECT least(c_nationkey, s_nationkey) AS a,
           greatest(c_nationkey, s_nationkey) AS b,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE c_nationkey <> s_nationkey
    GROUP BY 1, 2
),
dirs AS MATERIALIZED (
    SELECT a AS src, b AS dst, w FROM pairs
    UNION ALL
    SELECT b AS src, a AS dst, w FROM pairs
),
kept AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM (
        SELECT src, dst, row_number() OVER (
            PARTITION BY src ORDER BY w DESC, dst) AS krn
        FROM dirs
    ) WHERE krn <= {LPA_FANOUT}
),
sparse AS MATERIALIZED (
    SELECT k.a, k.b, p.w FROM kept k JOIN pairs p ON k.a = p.a AND k.b = p.b
),
edges AS MATERIALIZED (
    SELECT a AS src, b AS dst, w FROM sparse
    UNION ALL
    SELECT b AS src, a AS dst, w FROM sparse
),
nodes AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),{",".join(iters)}
SELECT l.node, n.n_name, l.label AS community
FROM {prev} l JOIN nation n ON l.node = n.n_nationkey
ORDER BY l.node
"""


SPECS.append(
    QuerySpec(
        "graph_label_propagation",
        graph_label_propagation,
        _lpa_oracle(),
    )
)


GRAPH_DEGREE_HISTOGRAM_ORACLE = """
WITH und AS (
    SELECT DISTINCT least(c_nationkey, s_nationkey) AS a,
                    greatest(c_nationkey, s_nationkey) AS b
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE c_nationkey != s_nationkey
),
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
    GROUP BY node
)
SELECT degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       MIN(node) AS min_node,
       MAX(node) AS max_node
FROM deg GROUP BY degree
"""

SPECS.append(
    QuerySpec(
        "graph_degree_histogram",
        graph_degree_histogram,
        GRAPH_DEGREE_HISTOGRAM_ORACLE,
    )
)


LINKPRED_TOP = 10


def _linkpred_build(spark: SparkSession, sf_dir: str):
    """Shared k=1-sparsified undirected edge list — delegates to
    ``_sparsified_pairs`` so the construction stays in lockstep with
    ``graph_label_propagation`` by sharing code, not by copy."""
    _pairs, kept = _sparsified_pairs(spark, sf_dir)
    # (b) link prediction's shuffles 10 -> 26 without it
    return persist(
        kept.select("a", "b")
        .unionByName(kept.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )


def graph_link_prediction_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION by neighbor overlap (the common-neighbors /
    Jaccard baseline every graph-ML evaluation starts from): over the
    k=1 strongest-partner graph (same sparsification as
    `graph_label_propagation` — the dense trade graph has no missing
    links to predict), score every NON-adjacent two-hop pair by
    Jaccard of neighbor sets and return the top-10 predicted links.

    Candidate generation is the two-hop join (a-x-b through a shared
    neighbor) minus existing edges — never all-pairs: only pairs with
    at least one common neighbor can score above zero, so the
    candidate space IS the two-hop space. At node scale this is the
    standard triangle-closing plan: one self-join of the
    dimension-sized edge list on the shared endpoint, an anti-join
    against edges, a per-pair count; degrees broadcast."""
    edges = _linkpred_build(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e1 = edges.select(F.col("dst").alias("na"), F.col("src").alias("x"))
    e2 = edges.select(F.col("src").alias("x2"), F.col("dst").alias("nb"))
    twohop = (
        e1.join(F.broadcast(e2), F.col("x") == F.col("x2"))
        .filter(F.col("na") < F.col("nb"))
        .select(F.col("na").alias("a"), F.col("nb").alias("b"), "x")
        .distinct()
    )
    non_adj = twohop.join(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    common = non_adj.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cn"))
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b"))
    scored = (
        common.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "cn",
            F.round(
                F.col("cn")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )
    return (
        scored.orderBy(F.desc("jaccard"), F.desc("cn"), "a", "b")
        .limit(LINKPRED_TOP)
    )


GRAPH_LINK_PREDICTION_ORACLE = f"""
WITH pairs AS MATERIALIZED (
    SELECT least(c_nationkey, s_nationkey) AS a,
           greatest(c_nationkey, s_nationkey) AS b,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE c_nationkey <> s_nationkey
    GROUP BY 1, 2
),
dirs AS MATERIALIZED (
    SELECT a AS src, b AS dst, w FROM pairs
    UNION ALL
    SELECT b AS src, a AS dst, w FROM pairs
),
kept AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM (
        SELECT src, dst, row_number() OVER (
            PARTITION BY src ORDER BY w DESC, dst) AS krn
        FROM dirs
    ) WHERE krn <= {LPA_FANOUT}
),
edges AS MATERIALIZED (
    SELECT a AS src, b AS dst FROM kept
    UNION ALL
    SELECT b AS src, a AS dst FROM kept
),
deg AS MATERIALIZED (
    SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
),
twohop AS MATERIALIZED (
    SELECT DISTINCT e1.dst AS a, e2.dst AS b, e1.src AS x
    FROM edges e1 JOIN edges e2 ON e1.src = e2.src
    WHERE e1.dst < e2.dst
),
non_adj AS MATERIALIZED (
    SELECT t.a, t.b, t.x FROM twohop t
    WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.src = t.a AND e.dst = t.b
    )
),
common AS MATERIALIZED (
    SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cn FROM non_adj GROUP BY a, b
)
SELECT c.a, c.b, c.cn,
       round(c.cn * 1.0 / (da.deg + db.deg - c.cn), 6) AS jaccard
FROM common c
JOIN deg da ON c.a = da.src
JOIN deg db ON c.b = db.src
ORDER BY jaccard DESC, cn DESC, a, b
LIMIT {LINKPRED_TOP}
"""

SPECS.append(
    QuerySpec(
        "graph_link_prediction",
        graph_link_prediction_impl,
        GRAPH_LINK_PREDICTION_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# graph_hits — HITS hubs & authorities (Kleinberg 1999), scaled integers
# ---------------------------------------------------------------------------

HITS_ROUNDS = 2


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One (src, dst) row per lineitem: customer nation → supplier
    nation, the fact-fact join under every trade-graph operator."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
    )


def _undirected_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One canonical (a < b) nation pair per cross-border lineitem."""
    return (
        _trade_pairs(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
    )


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted directed trade graph: w = lineitems per pair."""
    return _trade_pairs(spark, sf_dir).groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("w")
    )


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the nation trade graph — the
    second classic centrality next to ``graph_pagerank``, separating
    BUYERS (hubs: customer nations pointing at good suppliers) from
    SELLERS (authorities: supplier nations pointed at by good
    buyers), which a single PageRank conflates on a bipartite-ish
    flow graph.

    Same determinism discipline as pagerank: scores are scaled
    BIGINTs (SCALE=1e12); each half-round is one weighted aggregate
    followed by INTEGER L1 renormalization ``v ← v div (Σv div
    SCALE)`` — every operation integer, so both engines produce
    identical numbers. Magnitude audit at fixture scale:
    h·w ≤ 1e12·1e5 ⇒ partial sums < 2.5e18 < 2⁶³ (at 100 TB edge
    weights, promote the two sums to DECIMAL(38,0) — shape
    unchanged). Iterations run on the ≤ nations² edge relation; the
    fact-scale work is the ONE edge-building aggregate."""
    edges = persist(_trade_edges(spark, sf_dir))  # (b) scans 6 -> 10 without it
    nodes = load(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("node"))
    hubs = nodes.select("node", F.lit(SCALE).cast("bigint").alias("h"))
    auth = None
    for _ in range(HITS_ROUNDS):
        a_raw = (
            hubs.join(edges, hubs.node == edges.src)
            .groupBy("dst")
            .agg(F.sum(F.col("h") * F.col("w")).alias("raw"))
        )
        a_nrm = a_raw.agg(
            F.greatest(F.lit(1), F.expr(f"sum(raw) div {SCALE}")).alias("nrm")
        )
        auth = (
            nodes.join(a_raw, nodes.node == a_raw.dst, "left")
            .crossJoin(a_nrm)
            .select(
                "node",
                F.expr("coalesce(raw, 0) div nrm").cast("bigint").alias("a"),
            )
        )
        h_raw = (
            auth.join(edges, auth.node == edges.dst)
            .groupBy("src")
            .agg(F.sum(F.col("a") * F.col("w")).alias("raw"))
        )
        h_nrm = h_raw.agg(
            F.greatest(F.lit(1), F.expr(f"sum(raw) div {SCALE}")).alias("nrm")
        )
        hubs = (
            nodes.join(h_raw, nodes.node == h_raw.src, "left")
            .crossJoin(h_nrm)
            .select(
                "node",
                F.expr("coalesce(raw, 0) div nrm").cast("bigint").alias("h"),
            )
        )
    return (
        hubs.join(auth, "node")
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("h").alias("hub_scaled"),
            F.col("a").alias("authority_scaled"),
        )
        .orderBy("node")
    )


def _hits_oracle() -> str:
    rounds = []
    prev_h = "h0"
    for r in range(1, HITS_ROUNDS + 1):
        rounds.append(f"""a{r}_raw AS MATERIALIZED (
    SELECT e.dst, SUM(p.h * e.w) AS raw
    FROM {prev_h} p JOIN edges e ON p.node = e.src
    GROUP BY e.dst
),
a{r} AS MATERIALIZED (
    SELECT n.node,
           CAST(COALESCE(r.raw, 0)
                // greatest(1, (SELECT SUM(raw) FROM a{r}_raw) // {SCALE})
                AS BIGINT) AS a
    FROM nodes n LEFT JOIN a{r}_raw r ON n.node = r.dst
),
h{r}_raw AS MATERIALIZED (
    SELECT e.src, SUM(p.a * e.w) AS raw
    FROM a{r} p JOIN edges e ON p.node = e.dst
    GROUP BY e.src
),
h{r} AS MATERIALIZED (
    SELECT n.node,
           CAST(COALESCE(r.raw, 0)
                // greatest(1, (SELECT SUM(raw) FROM h{r}_raw) // {SCALE})
                AS BIGINT) AS h
    FROM nodes n LEFT JOIN h{r}_raw r ON n.node = r.src
)""")
        prev_h = f"h{r}"
    return f"""
WITH edges AS MATERIALIZED (
    SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY src, dst
),
nodes AS (SELECT n_nationkey AS node FROM nation),
h0 AS (SELECT node, CAST({SCALE} AS BIGINT) AS h FROM nodes),
{",".join(rounds)}
SELECT CAST(n.node AS BIGINT) AS node,
       h{HITS_ROUNDS}.h AS hub_scaled,
       a{HITS_ROUNDS}.a AS authority_scaled
FROM nodes n
JOIN h{HITS_ROUNDS} ON n.node = h{HITS_ROUNDS}.node
JOIN a{HITS_ROUNDS} ON n.node = a{HITS_ROUNDS}.node
ORDER BY n.node
"""


SPECS.append(
    QuerySpec(
        "graph_hits",
        graph_hits,
        _hits_oracle(),
    )
)


# ---------------------------------------------------------------------------
# graph_random_walk — deterministic hash-driven walks (DeepWalk data prep)
# ---------------------------------------------------------------------------

WALK_STEPS = 3


def graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic "random" walks over the nation trade graph — the
    corpus-generation primitive under DeepWalk/node2vec graph
    embeddings: one walk per start node, each step moving to the
    neighbor indexed by ``h32(node:step) mod out_degree``. Hash-
    seeded instead of RNG-seeded for the same reason as the sampling
    family: the walk corpus is bit-reproducible across engines,
    partitionings and reruns — a re-run of the embedding pipeline
    trains on the SAME sequences.

    Scale: the edge list collapses to the dimension-sized ranked
    neighbor table (one row_number window per src); each unrolled
    step is one hash-join against it — walk length joins, never an
    iterative driver loop, and the fact-scale work remains the one
    edge-building aggregate.

    Citation: the multi-hop walk generalizes the reference's
    target→disease→drug traversal (x2.2.py:238-247) from a fixed
    3-entity schema walk to arbitrary graph steps."""
    from ._helpers import h32  # noqa: PLC0415

    edges = _trade_edges(spark, sf_dir)
    ranked = edges.select(
        "src",
        "dst",
        F.row_number()
        .over(Window.partitionBy("src").orderBy("dst"))
        .alias("rk"),
    )
    degree = ranked.groupBy("src").agg(F.max("rk").alias("deg"))
    nbr = persist(ranked.join(degree, "src"))  # (b) latency 0.50 -> 0.56 s without it
    walk = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("start")
    ).withColumn("cur", F.col("start"))
    hops = []
    for step in range(1, WALK_STEPS + 1):
        pick = (
            h32(F.concat_ws(":", F.col("cur"), F.lit(step))) % F.col("deg") + 1
        )
        nxt = (
            walk.join(nbr, walk["cur"] == nbr["src"])
            .filter(F.col("rk") == pick)
            .select(
                "start",
                *hops,
                F.col("dst").cast("bigint").alias(f"hop{step}"),
            )
        )
        hops = [*hops, f"hop{step}"]
        walk = nxt.withColumn("cur", F.col(f"hop{step}"))
    return walk.select("start", *hops).orderBy("start")


def _walk_oracle() -> str:
    h = "('0x' || substring(md5(CAST({n} AS VARCHAR) || ':{s}'), 1, 8))::BIGINT"
    steps = []
    prev = "w0"
    for step in range(1, WALK_STEPS + 1):
        prev_cur = "start" if step == 1 else f"hop{step - 1}"
        cols = ", ".join(
            ["p.start"]
            + [f"p.hop{i}" for i in range(1, step)]
            + ["n.dst AS hop" + str(step)]
        )
        steps.append(f"""w{step} AS MATERIALIZED (
    SELECT {cols}
    FROM w{step - 1} p JOIN nbr n
      ON p.{prev_cur} = n.src
     AND n.rk = {h.format(n=f"p.{prev_cur}", s=step)} % n.deg + 1
)""")
        prev = f"w{step}"
    hopcols = ", ".join(f"hop{i}" for i in range(1, WALK_STEPS + 1))
    return f"""
WITH edges AS MATERIALIZED (
    SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY src, dst
),
ranked AS (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY dst) AS rk
    FROM edges
),
degree AS (SELECT src, MAX(rk) AS deg FROM ranked GROUP BY src),
nbr AS (
    SELECT r.src, CAST(r.dst AS BIGINT) AS dst, r.rk, d.deg
    FROM ranked r JOIN degree d ON r.src = d.src
),
w0 AS (SELECT CAST(n_nationkey AS BIGINT) AS start FROM nation),
{",".join(steps)}
SELECT start, {hopcols} FROM w{WALK_STEPS} ORDER BY start
"""


SPECS.append(
    QuerySpec(
        "graph_random_walk",
        graph_random_walk,
        _walk_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Strongly connected components (directed trade graph)
# ---------------------------------------------------------------------------

_SCC_TOPK = 3  # per-src out-degree cap that sparsifies the trade graph
_SCC_MAX_ITERS = 30


def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the SPARSIFIED directed trade
    graph: each exporting nation keeps only its top-K trade partners
    (by edge weight, dst tiebreak), which breaks the near-complete
    nation graph into genuine sources/sinks/cycles. SCC id = the
    smallest node mutually reachable with you.

    Implementation: semi-naive transitive closure to a FIXPOINT — the
    frontier (newly discovered (u,v) pairs) joins the edge list each
    round, anti-joins what's known, and the loop exits when the
    frontier is empty (count() per round is a legitimate convergence
    action, the ``dedup_cluster_cc`` precedent). Mutuality is then a
    self-equi-join of the closure on the reversed pair.

    Scale posture: the nodes here are NATIONS — the closure is over
    an entity graph that stays small-by-construction while the 100 TB
    fact table is touched exactly once, in the edge-building
    aggregation (this file's standing posture). For million-node
    graphs you'd switch to forward-backward reach decomposition; the
    fixture's graph diameter keeps semi-naive optimal.
    """
    edges_w = _trade_edges(spark, sf_dir)
    w_rk = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    # (a) each round's checkpoint and count read it: scans 5 -> 13 and
    # build jobs 18 -> 30 without it
    edges = persist(
        edges_w.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= _SCC_TOPK)
        .select(F.col("src").cast("long"), F.col("dst").cast("long"))
    )
    nodes = (
        load(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").cast("long").alias("u"))
    )
    closure = nodes.select("u", F.col("u").alias("v")).localCheckpoint(eager=False)
    e = F.broadcast(edges)
    # Round 1 specialised (optimization r10): the first frontier is
    # identity ⋈ edges = the deduplicated non-self edge set itself —
    # no join, no anti-join (anti vs identity ≡ u <> v). Later rounds
    # keep the closure as a LAZY union of the checkpointed frontiers
    # instead of re-checkpointing the whole closure every round: each
    # part is already lineage-truncated, so the union stays shallow
    # and one materialization job per round disappears. Same frontier
    # sequence, same fixpoint, same output.
    frontier = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=False)
    )
    if frontier.count() > 0:
        closure = closure.unionByName(frontier)
        for _ in range(_SCC_MAX_ITERS - 1):
            new = (
                frontier.join(e, frontier.v == edges.src)
                .select("u", F.col("dst").alias("v"))
                .distinct()
                .join(closure, ["u", "v"], "left_anti")
                .localCheckpoint(eager=False)
            )
            if new.count() == 0:
                break
            closure = closure.unionByName(new)
            frontier = new
        else:
            raise RuntimeError(
                f"transitive closure did not converge in {_SCC_MAX_ITERS} rounds"
            )
    rev = closure.select(F.col("v").alias("u"), F.col("u").alias("v"))
    mutual = closure.join(rev, ["u", "v"])  # u ~ v both ways
    sccs = mutual.groupBy("u").agg(F.min("v").alias("scc_id"))
    return (
        sccs.groupBy("scc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list(F.col("u"))), ",").alias(
                "members"
            ),
        )
        .orderBy("scc_id")
    )


GRAPH_SCC_ORACLE = f"""
WITH RECURSIVE edges_w AS MATERIALIZED (
    SELECT CAST(c_nationkey AS BIGINT) AS src,
           CAST(s_nationkey AS BIGINT) AS dst,
           COUNT(*) AS w
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY src, dst
),
edges AS MATERIALIZED (
    SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst ASC) AS rk
        FROM edges_w
    ) WHERE rk <= {_SCC_TOPK}
),
reach(u, v) AS (
    SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT) FROM nation
    UNION
    SELECT r.u, e.dst FROM reach r JOIN edges e ON r.v = e.src
),
mutual AS MATERIALIZED (
    SELECT a.u, a.v FROM reach a JOIN reach b ON a.u = b.v AND a.v = b.u
),
sccs AS (SELECT u, MIN(v) AS scc_id FROM mutual GROUP BY u)
SELECT scc_id,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       array_to_string(list_sort(list(u)), ',') AS members
FROM sccs GROUP BY scc_id ORDER BY scc_id
"""

SPECS.append(
    QuerySpec(
        "graph_scc",
        graph_scc,
        GRAPH_SCC_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# graph_neighborhood_function — HyperBall dataflow with exact bitsets
# ---------------------------------------------------------------------------

_NF_ROUNDS = 4  # ball radius — trade-graph diameter is small


def graph_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEIGHBORHOOD FUNCTION N(t) — how many (source, target) pairs
    are within t hops — computed with the HyperBall dataflow (Boldi &
    Vigna, 2013): every node carries a summary of its ball, and each
    round unions every node's summary with its out-neighbors'
    summaries (one join + one aggregate per round). At billion-node
    scale the summary is a mergeable HLL sketch; on the nation-sized
    trade graph the SAME dataflow runs with EXACT 32-bit bitsets
    (bit_or aggregate, popcount sizes), so the oracle is exact while
    the plan is precisely the sketch algorithm's shape — swap the
    bitset column for a sketch column and nothing else changes.

    Output per radius t: pairs reached, newly reached pairs, and the
    reached fraction in ppm — the curve whose 90% crossing is the
    effective diameter."""
    # (a) the node count reads it at build: scans 4 -> 28 without it
    edges = persist(_trade_edges(spark, sf_dir).select("src", "dst"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()  # dimension-sized; a count action, not a collect
    # Domain guard: the exact int64 bitset addresses node ids 0..63
    # ONLY — Java shiftleft wraps the shift amount mod 64, so id 64
    # would silently collide with id 0 (and DuckDB's << yields 0,
    # diverging). Fail LOUDLY on out-of-domain ids instead of
    # corrupting the curve; graphs with wider id spaces swap the
    # bitset column for an HLL sketch (the documented HyperBall form)
    # and nothing else in the dataflow changes.
    ball = (
        F.when(
            (F.col("node") >= 0) & (F.col("node") < 64),
            F.expr("shiftleft(CAST(1 AS BIGINT), node)"),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "graph_neighborhood_function: exact-bitset form "
                    "requires node ids in [0, 64); use the HLL-sketch "
                    "variant beyond"
                )
            ).cast("bigint")
        )
        .alias("ball")
    )
    balls = nodes.select("node", ball)
    rows = [
        balls.agg(
            F.lit(0).alias("t"),
            F.sum(F.bit_count("ball")).cast("bigint").alias("pairs_reached"),
        )
    ]
    for t in range(1, _NF_ROUNDS + 1):
        nbr = (
            edges.join(balls.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.bit_or("ball").alias("nbr_ball"))
        )
        balls = balls.join(nbr, "node", "left").select(
            "node",
            F.col("ball").bitwiseOR(F.coalesce("nbr_ball", F.lit(0))).alias("ball"),
        )
        if t < _NF_ROUNDS:  # the last radius's balls feed only their own row
            balls = persist(balls)  # (b) shuffles 13 -> 65 without it
        rows.append(
            balls.agg(
                F.lit(t).alias("t"),
                F.sum(F.bit_count("ball")).cast("bigint").alias("pairs_reached"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    w = Window.orderBy("t")
    return out.select(
        "t",
        "pairs_reached",
        (F.col("pairs_reached") - F.coalesce(F.lag("pairs_reached").over(w), F.lit(0)))
        .cast("bigint")
        .alias("new_pairs"),
        F.expr(f"pairs_reached * 1000000 div {n_nodes} div {n_nodes}").alias(
            "reached_ppm"
        ),
    ).orderBy("t")


def _nf_oracle() -> str:
    ctes = ["""edges AS MATERIALIZED (
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
),
nodes AS MATERIALIZED (
    SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
),
b0 AS MATERIALIZED (
    SELECT node, CAST(1 AS BIGINT) << node AS ball FROM nodes
)"""]
    prev = "b0"
    for t in range(1, _NF_ROUNDS + 1):
        ctes.append(f"""b{t} AS MATERIALIZED (
    SELECT p.node,
           p.ball | COALESCE(n.nbr_ball, 0) AS ball
    FROM {prev} p
    LEFT JOIN (
        SELECT e.src AS node, bit_or(p2.ball) AS nbr_ball
        FROM edges e JOIN {prev} p2 ON e.dst = p2.node
        GROUP BY e.src
    ) n USING (node)
)""")
        prev = f"b{t}"
    sizes = "\nUNION ALL\n".join(
        f"SELECT {t} AS t, CAST(SUM(bit_count(ball)) AS BIGINT) AS pairs_reached FROM b{t}"
        for t in range(_NF_ROUNDS + 1)
    )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
curve AS MATERIALIZED (
{sizes}
),
n AS (SELECT COUNT(*) AS n_nodes FROM nodes)
SELECT t, pairs_reached,
       CAST(pairs_reached - COALESCE(LAG(pairs_reached) OVER (ORDER BY t), 0)
            AS BIGINT) AS new_pairs,
       CAST(pairs_reached * 1000000 // n.n_nodes // n.n_nodes AS BIGINT)
           AS reached_ppm
FROM curve, n
ORDER BY t
"""


SPECS.append(
    QuerySpec(
        "graph_neighborhood_function",
        graph_neighborhood_function,
        _nf_oracle(),
    )
)


# ---------------------------------------------------------------------------
# graph_ppr — personalized PageRank from a seed set
# ---------------------------------------------------------------------------
#
# The seed-restart variant of PageRank (Jeh & Widom 2003) — the signal
# web-scale data-curation pipelines propagate from a trusted seed list
# (quality hosts, curated domains) over the link graph to score the rest
# of the crawl. Same exact scaled-integer discipline as graph_pagerank:
# every rank is a BIGINT in units of SCALE^-1, every transfer uses
# integer div, so three unrolled rounds are bit-reproducible in SQL.

_PPR_SEED_REGION = "EUROPE"  # deterministic seed set: nations of one region


def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the nation trade graph, teleporting to
    the seed set (nations of one region) instead of the uniform
    vector: rank = 15%·seed_mass + 85%·weighted inflow, 3 unrolled
    rounds. Non-seed nations score only what the graph carries to
    them from the seeds — the 'how close is this node to the trusted
    set' curation signal. Plan shape identical to graph_pagerank:
    edges built once and persisted, per-round broadcast joins on the
    bounded node/edge relations."""
    nation = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name", "n_regionkey"
    )
    region = load(spark, sf_dir, "region").filter(
        F.col("r_name") == _PPR_SEED_REGION
    ).select("r_regionkey")
    nodes = nation.join(
        region, nation.n_regionkey == region.r_regionkey, "left"
    ).select(
        "node",
        F.when(F.col("r_regionkey").isNotNull(), 1).otherwise(0).alias("is_seed"),
    )
    n_seeds = nodes.agg(F.sum("is_seed").alias("n_seeds"))
    return (
        _rank_rounds(
            spark,
            sf_dir,
            nodes,
            n_seeds,
            f"(is_seed * {SCALE}) div n_seeds",
            f"(is_seed * (({SCALE} * 15) div 100)) div n_seeds",
        )
        .select(
            "node",
            "n_name",
            F.col("is_seed").cast("int").alias("is_seed"),
            "rank",
            F.round(F.col("rank") / F.lit(float(SCALE)), 6).alias("rank_share"),
        )
        .orderBy(F.desc("rank"), "node")
    )


def _ppr_oracle() -> str:
    iters = []
    prev = "r0"
    for i in range(1, N_ITER + 1):
        iters.append(f"""
r{i} AS MATERIALIZED (
    SELECT n.node, n.is_seed, n.n_seeds,
           (n.is_seed * (({SCALE} * 15) // 100)) // n.n_seeds
           + (85 * COALESCE(a.inflow, 0)) // 100 AS rank
    FROM nodes n
    LEFT JOIN (
        SELECT e.dst, CAST(SUM((CAST(p.rank AS HUGEINT) * e.w) // o.out_w) AS BIGINT) AS inflow
        FROM {prev} p
        JOIN edges e ON p.node = e.src
        JOIN out_w o ON e.src = o.src
        GROUP BY e.dst
    ) a ON n.node = a.dst
)""")
        prev = f"r{i}"
    return f"""
WITH edges AS MATERIALIZED (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY c.c_nationkey, s.s_nationkey
),
out_w AS (
    SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src
),
nodes AS MATERIALIZED (
    SELECT n.n_nationkey AS node,
           CASE WHEN r.r_regionkey IS NOT NULL THEN 1 ELSE 0 END AS is_seed,
           (SELECT COUNT(*) FROM nation n2
            JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
            WHERE r2.r_name = '{_PPR_SEED_REGION}') AS n_seeds
    FROM nation n
    LEFT JOIN (SELECT r_regionkey FROM region WHERE r_name = '{_PPR_SEED_REGION}') r
      ON n.n_regionkey = r.r_regionkey
),
r0 AS (
    SELECT node, is_seed, n_seeds, (is_seed * {SCALE}) // n_seeds AS rank
    FROM nodes
),{",".join(iters)}
SELECT r.node, n.n_name, CAST(r.is_seed AS INTEGER) AS is_seed, r.rank,
       round(r.rank / {float(SCALE)}, 6) AS rank_share
FROM {prev} r JOIN nation n ON r.node = n.n_nationkey
ORDER BY r.rank DESC, r.node
"""


SPECS.append(
    QuerySpec(
        "graph_ppr",
        graph_ppr,
        _ppr_oracle(),
    )
)
