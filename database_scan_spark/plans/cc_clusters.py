"""Connected-components clustering of near-duplicate pairs — the
iterative-algorithm capability (ROADMAP #3): true duplicate CLUSTERS
instead of pairwise drops, so a chain a~b~c collapses to one
survivor even when a~c was never directly detected.

Spark-first iterative shape: driver-controlled fixed-point loop of
min-label propagation (the alternating-star idea specialized to tiny
diameters), each iteration one join + one aggregate; convergence via
a `count` action on changed labels. Iteration count is bounded by
component diameter — near-dup clusters are shallow (pairs come from
a similarity threshold), so 2-4 iterations in practice. Each
iteration localCheckpoint-free: plans stay small because labels are
re-persisted per round.

The oracle is a DuckDB RECURSIVE CTE computing the transitive
closure and taking min reachable id per doc — an INDEPENDENT
derivation of the same fixed point, which is exactly what an
iterative job needs checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import JACCARD_THRESHOLD, dedup_ngram_jaccard
from ..operators.text_analysis import text_quality as text_quality_fn
from ..session import persist
from ..spec import QuerySpec

MAX_ITERS = 20  # safety bound; diameter of near-dup clusters is tiny


def dedup_cluster_cc(
    spark: SparkSession, sf_dir: str, lsh_pairs: bool = False
) -> DataFrame:
    """(doc_id, cluster_id) for every doc that appears in a verified
    near-dup pair; cluster_id = min doc_id in the connected component.

    ``lsh_pairs=True`` sources edges from the banded-LSH pipeline
    (bucket-bounded candidate generation) instead of the exact
    set-similarity join. The round-10 100x rehearsal measured why
    that matters: the exact join is quadratic in per-shingle document
    frequency and OOMed a 16g heap at 100x, while the LSH pair pass
    finished in 22s on the same data — at corpus scale the LSH edge
    source is the only viable one, and its oracle twin is the banded
    pipeline IN SQL (same bands, same verification), so the variant
    is exact against its own contract rather than fixture-lucky."""
    if lsh_pairs:
        from ..operators.dedup import dedup_minhash_lsh  # noqa: PLC0415

        pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    else:
        pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # ONE-JOIN round shape (optimization r10, guide §2.4 "remove
    # shuffles outright"): "min(own label, neighbors' labels)" is one
    # join + one aggregate per round when the node's own label enters
    # the same min as a UNIONED self-contribution row — the original
    # shape spent three joins per round (neighbor-min join, own-label
    # left join, changed-count join). The changed flag rides the same
    # aggregate: min(all contributions) < min(self contribution alone)
    # IS "label changed this round" (the new label is always <= the
    # old), so no comparison against the previous relation is needed.
    # Round 1 needs no join at all: labels start as identity, so each
    # node's first label is least(own id, min neighbor id) straight
    # off the edge aggregate. Same fixpoint, same round count, same
    # (doc_id, min-of-component) output. Measured at sf0.1 (driver
    # bench protocol, min of 2 warm runs): total 3.69s -> see
    # OPTIMIZATION_r10.md (the fixpoint runs at plan-build time).
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .dropDuplicates(["src", "dst"])
    )
    # The LSH pair plan is a DEEP subtree (64 min-slots x 16 band
    # unions); persist() caches the DATA but every fixpoint round's
    # plan still carries the full analyzed lineage — measured 60s+ of
    # pure plan-time at sf0.1 and an explainString OOM at 100x.
    # localCheckpoint truncates the lineage itself (graph_scc's
    # pattern); the shallow exact-join plan stays on plain persist.
    # (a) every round's count reads the edges, and round 2's the first
    # labels: without them scans 1 -> 2 and build jobs 15 -> 18, and
    # shuffles 6 -> 7 (dedup_cluster_cc, sf0.01)
    edges = edges.localCheckpoint(eager=False) if lsh_pairs else persist(edges)
    labels_p = persist(
        edges.groupBy("src")
        .agg(
            F.least(F.col("src"), F.min("dst")).alias("label"),
            (F.min("dst") < F.col("src")).alias("chg"),
        )
    )
    # Round 1 needs NO convergence count (optimization r11, guide §5
    # "the driver should do almost no data work" — one action fewer):
    # the edge set is symmetric and self-loop-free (both orientations
    # of each a<b pair, deduped), so any non-empty component's largest
    # node has a strictly smaller neighbor and its label changes —
    # round 1 always reports changed>0 when edges exist. If edges is
    # EMPTY, labels is empty too, and the first loop round's aggregate
    # over empty input counts 0 and exits — same fixpoint, same
    # result, one plan round over zero rows instead of a count job.
    # Skipping the count also defers labels_p's cache materialization
    # into round 2's count job (edges cache + labels cache + round-2
    # aggregate land in ONE action instead of two).
    changed = -1  # sentinel: round 1 provably changed (or loop exits on 0)
    labels = labels_p.select(F.col("src").alias("doc_id"), "label")
    rounds = 1
    while changed != 0 and rounds < MAX_ITERS:
        contribs = (
            edges.join(labels, edges.dst == labels.doc_id)
            .select("src", "label", F.lit(0).alias("is_self"))
            .unionByName(
                labels.select(
                    F.col("doc_id").alias("src"), "label", F.lit(1).alias("is_self")
                )
            )
        )
        # (a) the next round's count reads it: shuffles 6 -> 13 without it
        new_p = persist(
            contribs.groupBy("src")
            .agg(
                F.min("label").alias("label"),
                (
                    F.min("label")
                    < F.min(F.when(F.col("is_self") == 1, F.col("label")))
                ).alias("chg"),
            )
        )
        changed = new_p.filter("chg").count()
        labels_p.unpersist()
        labels_p = new_p
        labels = new_p.select(F.col("src").alias("doc_id"), "label")
        rounds += 1
    edges.unpersist()
    if changed != 0:
        # silent wrong answers are worse than failure: a component with
        # diameter > MAX_ITERS would keep non-minimal labels
        raise RuntimeError(
            f"connected components did not converge within {MAX_ITERS} "
            f"iterations ({changed} labels still changing) — raise MAX_ITERS"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


DEDUP_CLUSTER_CC_ORACLE = f"""
WITH RECURSIVE sh AS (
    SELECT doc_id,
           unnest(list_distinct([
               t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               FOR i IN generate_series(1, greatest(len(t) - 2, 0))
           ])) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS c
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b
    FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(c * 1.0 / (sa.n + sb.n - c), 6) >= {JACCARD_THRESHOLD}
),
undirected AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, a FROM undirected
    UNION
    SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a
)
SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
"""


MAX_TWOSTAR_ROUNDS = 12  # O(log^2 n) bound; each round is 2 star ops


def _canonical(e: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (hi, lo) orientation, no
    self-loops, no duplicates. One shuffle (the dropDuplicates)."""
    return (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _large_star(e: DataFrame) -> DataFrame:
    """large-star(u): for every neighbor v > u, connect v to
    m = min(N(u) ∪ {u}). Input canonical (hi, lo); symmetrize first so
    every node sees its full neighborhood. groupBy + join — no
    collect_list blowup on high-degree nodes."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
    )
    # output rows (v, m) satisfy v > u >= m, so they are already in
    # canonical (hi, lo) orientation with no self-loops — duplicates
    # are tolerated here and collapsed by small-star's trailing dedup,
    # saving one shuffle per round
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """small-star(u): connect u and every neighbor v ≤ u to
    m = min(N_small(u) ∪ {u}). Input canonical (hi, lo), so the
    smaller-neighbor lists are exactly the rows grouped by u."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))  # v < u always
    star_u = mins.select(F.col("u"), F.col("m").alias("v"))
    star_v = (
        e.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return _canonical(star_u.unionByName(star_v))


def dedup_cluster_cc_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the 100 TB-posture CC: O(log² n) rounds
    regardless of component DIAMETER, where the min-label loop in
    ``dedup_cluster_cc`` needs diameter-many rounds. Same pairs input,
    same (doc_id, cluster_id) output, same recursive-CTE oracle.

    Each round is two star operations = 2 groupBy + 2 join + 1
    trailing dedup shuffle (large-star output is canonical by
    construction), all on the (shrinking) edge set; no driver-side
    data, convergence checked with a one-row count+hash fingerprint
    action per round. At the fixed point the canonical edge set is a
    star forest: every non-root points directly at its component min.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # localCheckpoint (not persist): truncates lineage each round.
    # Each star op references its input 2×, so an evicted cache would
    # otherwise recompute a lineage that doubles per round —
    # checkpointing makes every round O(edge set), even in a 1g-heap
    # vanilla driver session. LAZY (eager=False, optimization r10):
    # the fingerprint probe right after is the materializing action,
    # so checkpoint + probe fuse into ONE job per round instead of two.
    edges = _canonical(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    ).localCheckpoint(eager=False)

    def _fingerprint(e: DataFrame) -> tuple:
        # one-row aggregate action (count + order-insensitive XOR hash;
        # XOR is safe on the deduped edge set and can't overflow ANSI
        # arithmetic): the per-round convergence probe, like
        # dedup_cluster_cc's count()
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).head()
        return (row["n"], row["h"])

    fp = _fingerprint(edges)
    converged = False
    for _ in range(MAX_TWOSTAR_ROUNDS):
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        new_fp = _fingerprint(new_edges)
        edges = new_edges  # previous round's blocks are GC-cleaned
        if new_fp == fp:
            converged = True
            break
        fp = new_fp
    if not converged:
        raise RuntimeError(
            f"two-star CC did not reach a fixed point within "
            f"{MAX_TWOSTAR_ROUNDS} rounds — raise MAX_TWOSTAR_ROUNDS"
        )
    # Star forest: every non-root points directly at its component min
    # (appears as u exactly once), and every root appears only as v —
    # so the label table is the edge set itself plus the roots'
    # self-labels. No pre-loop node snapshot needed: pairs guarantee
    # every node is in a component of size >= 2, hence in the forest.
    root_of = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    roots = root_of.select("cluster_id").dropDuplicates()
    return root_of.select(F.col("u").alias("doc_id"), "cluster_id").unionByName(
        roots.select(F.col("cluster_id").alias("doc_id"), "cluster_id")
    )


SPECS = [
    QuerySpec(
        "dedup_cluster_cc",
        dedup_cluster_cc,
        DEDUP_CLUSTER_CC_ORACLE,
    ),
    QuerySpec(
        "dedup_cluster_cc_twostar",
        dedup_cluster_cc_twostar,
        DEDUP_CLUSTER_CC_ORACLE,
    ),
]


# ---------------------------------------------------------------------------
# dedup_keep_best — canonical-document election per near-dup cluster
# ---------------------------------------------------------------------------


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production end step of near-dup dedup: per cluster, KEEP
    the highest-QUALITY copy, not the lowest id (Gopher/C4-style
    pipelines elect the best representative so dedup doesn't throw
    away the cleanest crawl of a page). Composes two already-oracled
    legs — the verified-pair connected components and the text
    quality scores — and elects argmax(quality_score) per cluster
    with doc_id as the deterministic tiebreak.

    Output: one row per clustered doc with its cluster, quality, the
    elected keeper, and a drop flag (non-keepers are what a budget
    pass deletes). Scale: the cluster relation is candidate-sized
    (docs in verified pairs only, a vanishing corpus fraction), the
    quality join hits only those docs, and the election is one window
    over clusters."""
    clusters = dedup_cluster_cc(spark, sf_dir)
    quality = text_quality_fn(spark, sf_dir).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("keep_doc", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "cluster_id",
            "quality_score",
            "keep_doc",
            (F.col("doc_id") != F.col("keep_doc")).alias("drop"),
        )
        .orderBy("doc_id")
    )


def _keep_best_oracle() -> str:
    from ..operators.text_analysis import TEXT_QUALITY_ORACLE  # noqa: PLC0415

    return f"""
WITH clusters AS MATERIALIZED ({DEDUP_CLUSTER_CC_ORACLE}),
quality AS MATERIALIZED ({TEXT_QUALITY_ORACLE}),
joined AS (
    SELECT c.doc_id, c.cluster_id, q.quality_score
    FROM clusters c JOIN quality q ON c.doc_id = q.doc_id
)
SELECT doc_id, cluster_id, quality_score,
       first_value(doc_id) OVER (
           PARTITION BY cluster_id
           ORDER BY quality_score DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS keep_doc,
       doc_id <> first_value(doc_id) OVER (
           PARTITION BY cluster_id
           ORDER BY quality_score DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS "drop"
FROM joined
ORDER BY doc_id
"""


SPECS.append(
    QuerySpec(
        "dedup_keep_best",
        dedup_keep_best,
        _keep_best_oracle(),
    )
)


def dedup_cluster_cc_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_cluster_cc` over banded-LSH pairs — the corpus-scale
    edge source (see the parent docstring's 100x measurement)."""
    return dedup_cluster_cc(spark, sf_dir, lsh_pairs=True)


def _cc_lsh_oracle() -> str:
    """Transitive closure over the LSH pipeline's OWN DuckDB twin:
    splice the banded-minhash pair SQL in as a materialized CTE and
    run the same recursive min-label closure over it. Exact against
    the LSH contract by construction — not against the exact join, so
    an LSH recall miss on borderline-Jaccard data changes BOTH sides
    identically instead of hash-diverging."""
    from ..operators.dedup import _minhash_oracle  # noqa: PLC0415

    lsh = _minhash_oracle()
    idx = lsh.rfind("SELECT doc_a, doc_b,")
    head, final = lsh[:idx], lsh[idx:]
    assert idx > 0 and head.rstrip().endswith(")"), "LSH oracle shape changed"
    return (
        head.rstrip().replace("WITH ", "WITH RECURSIVE ", 1)
        + ",\nlsh_pairs AS MATERIALIZED (\n"
        + final.strip()
        + """
),
undirected AS (
    SELECT doc_a AS a, doc_b AS b FROM lsh_pairs
    UNION
    SELECT doc_b, doc_a FROM lsh_pairs
),
reach(a, b) AS (
    SELECT a, a FROM undirected
    UNION
    SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a
)
SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
"""
    )


SPECS.append(
    QuerySpec(
        "dedup_cluster_cc_lsh",
        dedup_cluster_cc_lsh,
        _cc_lsh_oracle(),
    )
)
