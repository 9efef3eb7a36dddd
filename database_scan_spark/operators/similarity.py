"""Similarity search over the embedding column (north-star
LLM-pipeline operator, BASELINE.json).

Two paths, both fully deterministic and oracle-checked:

- ``sim_topk_bruteforce``: exact cosine top-k — the correctness
  baseline. Queries broadcast against the full embedding table; at
  100 TB this is the pattern for a small query batch against a huge
  corpus (one scan, no shuffle of the big side).
- ``sim_lsh_ann``: random-hyperplane LSH (Charikar SimHash for
  angles): each vector gets a sign-bit bucket code from a FIXED
  literal hyperplane set; candidates share a bucket, then exact
  cosine ranks within the bucket. The bucket join replaces the O(n²)
  pair space with per-bucket groups — the scale path. Approximate by
  design: recall depends on the hyperplanes, but the *computation* is
  deterministic, so the DuckDB twin (same literals) hash-matches.

Embeddings are unit-normalized in the fixtures, so cosine = dot.
The dot product is a JVM array fold (zip_with + aggregate) — no UDF,
bit-identical to DuckDB's list_dot_product over DOUBLE[].
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import persist
from ..spec import QuerySpec
from ._helpers import h32 as _h32, spread

DIM = 64
N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 5

# Fixed literal hyperplanes (seeded, embedded identically in the Spark
# plan and the generated oracle SQL).
_rng = np.random.RandomState(20_240_813)
HYPERPLANES: list[list[float]] = [
    [round(float(x), 6) for x in _rng.randn(DIM)] for x in range(6)
]


def _dot(a: Column, b: Column) -> Column:
    """Cross-engine dot product — delegated to the package-wide kernel
    in ``_helpers.dot`` (single source of truth)."""
    from ._helpers import dot  # noqa: PLC0415

    return dot(a, b)


def _lit_vec(vals: list[float]) -> Column:
    return F.array(*[F.lit(v) for v in vals])


def _bucket_code(vec: Column) -> Column:
    """Sign-bit bucket code: bit i = 1 iff vec · hyperplane_i >= 0."""
    code = F.lit(0)
    for i, h in enumerate(HYPERPLANES):
        code = code + F.when(_dot(vec, _lit_vec(h)) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return code.cast("int")


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector. The small
    query side is broadcast — the corpus is scanned once, never
    shuffled; ranking is a per-query window (tiny partitions)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    corpus = spread(emb).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(_dot(F.col("qe"), F.col("ne")), 6))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


SIM_TOPK_BRUTEFORCE_ORACLE = f"""
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                        c.vec_id ASC) AS INTEGER) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {N_QUERIES}
)
WHERE rank <= {TOP_K}
"""


def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE LSH approximate top-k (Lv et al., VLDB'07): the
    corpus is bucketed once by its sign-bit code (narrow map); each
    query probes its own bucket PLUS every Hamming-distance-1 bucket
    (flip one of the 6 sign bits). Single-probe LSH has near-zero
    recall on this corpus — the in-engine evaluation
    (``sim_lsh_recall_eval``) exposed it: true neighbors sit at
    cosine ≈ 0.4-0.5 (angle ~60°), so P(same bucket) ≈ 0.67⁶ ≈ 9%.
    Probing the 7 nearest buckets scans ~11% of the corpus and lifts
    recall to a usable level — the classic candidates/recall dial."""
    emb = spread(load(spark, sf_dir, "embeddings")).withColumn(
        "bucket", _bucket_code(F.col("embedding"))
    )
    n_planes = len(HYPERPLANES)
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
    )
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(probes).alias("bucket"),
        )
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"), "bucket"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(queries)
        .join(corpus, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(_dot(F.col("qe"), F.col("ne")), 6))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "bucket", "cosine", "rank")
    )


def _lsh_oracle() -> str:
    def dot_sql(vec_expr: str, h: list[float]) -> str:
        lits = ", ".join(repr(v) for v in h)
        return f"list_dot_product({vec_expr}::DOUBLE[], [{lits}]::DOUBLE[])"

    bucket = " + ".join(
        f"(CASE WHEN {dot_sql('embedding', h)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, h in enumerate(HYPERPLANES)
    )
    n_planes = len(HYPERPLANES)
    probe_list = ", ".join(["bucket"] + [f"xor(bucket, {1 << i})" for i in range(n_planes)])
    return f"""
WITH coded AS (
    SELECT vec_id, embedding, CAST({bucket} AS INTEGER) AS bucket FROM embeddings
),
probed AS (
    SELECT vec_id AS query_id, embedding AS qe,
           CAST(unnest([{probe_list}]) AS INTEGER) AS bucket
    FROM coded WHERE vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, bucket, cosine, rank FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id, q.bucket AS bucket,
           round(list_dot_product(q.qe::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY round(list_dot_product(q.qe::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                        c.vec_id ASC) AS INTEGER) AS rank
    FROM probed q JOIN coded c ON q.bucket = c.bucket AND q.query_id <> c.vec_id
)
WHERE rank <= {TOP_K}
"""


SPECS = [
    QuerySpec("sim_topk_bruteforce", sim_topk_bruteforce, SIM_TOPK_BRUTEFORCE_ORACLE),
    QuerySpec("sim_lsh_ann", sim_lsh_ann, _lsh_oracle()),
]


N_CENTROIDS = 8
N_PROBE = 2
IVF_TOP_K = 3


def sim_ivf_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN — the inverted-file scale path (FAISS IVF shape):

    1. centroids: a fixed k-vector codebook (here the first k corpus
       vectors — deterministic; production would k-means them);
    2. assign: every corpus vector joins the broadcast codebook and
       keeps its nearest centroid → inverted lists;
    3. probe: each query ranks centroids, keeps the nprobe nearest,
       and scans ONLY those inverted lists for exact cosine top-k.

    Cost: corpus×k assignment (broadcast, narrow) + per-probe-list
    scan, instead of corpus×queries brute force. Fully deterministic
    (cosines rounded 6dp, id tiebreaks), so the DuckDB twin of the
    same three steps hash-matches."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    centroids = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < N_CENTROIDS
    ).select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce"))

    def nearest(df: DataFrame, id_col: str, vec_col: str, n: int) -> DataFrame:
        w = Window.partitionBy(id_col).orderBy(
            F.desc("c_sim"), F.asc("centroid_id")
        )
        return (
            df.crossJoin(F.broadcast(centroids))
            .withColumn("c_sim", F.round(_dot(F.col(vec_col), F.col("ce")), 6))
            .withColumn("c_rank", F.row_number().over(w))
            .filter(F.col("c_rank") <= n)
            .drop("ce", "c_sim", "c_rank")
        )

    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    assigned = nearest(corpus, "neighbor_id", "ne", 1)  # inverted lists
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    probed = nearest(queries, "query_id", "qe", N_PROBE)  # probe lists

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        probed.join(assigned, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(_dot(F.col("qe"), F.col("ne")), 6))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= IVF_TOP_K)
        .select("query_id", "neighbor_id", "centroid_id", "cosine", "rank")
    )


SIM_IVF_FLAT_ORACLE = f"""
WITH centroids AS (
    SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
    WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
    SELECT neighbor_id, ne, centroid_id FROM (
        SELECT e.vec_id AS neighbor_id, e.embedding AS ne, c.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 6) DESC,
                            c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN centroids c
    ) WHERE rn = 1
),
probed AS (
    SELECT query_id, qe, centroid_id FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qe, c.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.embedding::DOUBLE[], c.ce::DOUBLE[]), 6) DESC,
                            c.centroid_id ASC) AS rn
        FROM embeddings q CROSS JOIN centroids c
        WHERE q.vec_id < {N_QUERIES}
    ) WHERE rn <= {N_PROBE}
)
SELECT query_id, neighbor_id, centroid_id, cosine, rank FROM (
    SELECT p.query_id, a.neighbor_id, a.centroid_id,
           round(list_dot_product(p.qe::DOUBLE[], a.ne::DOUBLE[]), 6) AS cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY p.query_id
               ORDER BY round(list_dot_product(p.qe::DOUBLE[], a.ne::DOUBLE[]), 6) DESC,
                        a.neighbor_id ASC) AS INTEGER) AS rank
    FROM probed p JOIN assigned a USING (centroid_id)
    WHERE p.query_id <> a.neighbor_id
)
WHERE rank <= {IVF_TOP_K}
"""

SPECS.append(
    QuerySpec(
        "sim_ivf_flat",
        sim_ivf_flat,
        SIM_IVF_FLAT_ORACLE,
    )
)


def sim_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluating ANN quality: per query, the recall of the LSH
    path against the exact brute-force top-k, computed INSIDE the
    engine as one plan (the evaluation harness a production ANN
    deployment runs continuously). Oracle replicates both paths plus
    the comparison."""
    bf = sim_topk_bruteforce(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("bf_neighbor")
    )
    ann = sim_lsh_ann(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor")
    )
    hits = bf.join(
        ann,
        (bf.query_id == ann.query_id) & (bf.bf_neighbor == ann.ann_neighbor),
        "left",
    ).select(bf.query_id, "bf_neighbor", F.col("ann_neighbor").isNotNull().alias("hit"))
    return hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("hit").cast("int")).alias("hits"),
        F.round(F.sum(F.col("hit").cast("int")) / F.count(F.lit(1)), 6).alias("recall"),
    )


def _recall_oracle() -> str:
    bf = SIM_TOPK_BRUTEFORCE_ORACLE.strip().rstrip()
    ann = _lsh_oracle().strip()
    return f"""
WITH bf AS ({bf}),
ann AS ({ann})
SELECT bf.query_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN ann.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       round(SUM(CASE WHEN ann.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS recall
FROM bf LEFT JOIN ann
  ON bf.query_id = ann.query_id AND bf.neighbor_id = ann.neighbor_id
GROUP BY bf.query_id
"""


SPECS.append(
    QuerySpec(
        "sim_lsh_recall_eval",
        sim_lsh_recall_eval,
        _recall_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Nearest-centroid classification (class prototypes + assignment)
# ---------------------------------------------------------------------------

# Shared CTE: per-(label, dimension) centroid components. Summing
# floats directly would be partial-agg-order dependent; casting each
# (exactly double-widened) float to DECIMAL(30,12) first makes the sum
# exact and order-independent, and the final component is one double
# division of exact inputs — identical IEEE result in both engines.
_SQL_CENTROID_FLAT = """
SELECT label, pos,
       CAST(CAST(s AS DOUBLE) / n AS DOUBLE) AS comp,
       n AS n_members
FROM (
    SELECT e.label, u.pos, SUM(CAST(CAST(u.val AS DOUBLE) AS DECIMAL(30,12))) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM embeddings e,
         LATERAL (SELECT unnest(e.embedding) AS val,
                         generate_subscripts(e.embedding, 1) AS pos) u
    GROUP BY e.label, u.pos
)
"""


def _centroid_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .select("label", (F.col("pos0") + 1).alias("pos"), "val")
        .groupBy("label", "pos")
        .agg(
            F.sum(F.col("val").cast("double").cast("decimal(30,12)")).alias("s"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "label",
            "pos",
            (F.col("s").cast("double") / F.col("n_members")).alias("comp"),
            "n_members",
        )
    )


def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes — the k-means
    update step / few-shot prototype computation). Output is the FLAT
    (label, dimension, component) relation: explode → hash-agg with
    map-side combine is the 100 TB shape; the array form is one
    ordered collect away when a consumer wants it."""
    return _centroid_flat(spark, sf_dir).select(
        "label", "pos", F.round("comp", 6).alias("centroid_comp"), "n_members"
    )


SIM_LABEL_CENTROIDS_ORACLE = f"""
SELECT label, pos, round(comp, 6) AS centroid_comp, n_members
FROM ({_SQL_CENTROID_FLAT})
"""


def sim_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification + confusion matrix: assign each
    embedding to its highest-dot-product class prototype and report
    (true label, predicted label, count). The centroid table collapses
    to one array row per label and BROADCASTS; scoring is then a
    narrow map over the corpus (the scalable ANN-assign shape — no
    shuffle of the embedding side). The dot is the package fold kernel
    (sequential, bit-identical to DuckDB's list_dot_product)."""
    centroid_arrays = (
        _centroid_flat(spark, sf_dir)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "comp"))),
                lambda s: s.comp,
            ).alias("c_arr")
        )
        .select(F.col("label").alias("c_label"), "c_arr")
    )
    emb = load(spark, sf_dir, "embeddings")
    scored = emb.crossJoin(F.broadcast(centroid_arrays)).select(
        "vec_id",
        "label",
        "c_label",
        F.round(_dot(F.col("embedding"), F.col("c_arr")), 6).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "c_label")
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("c_label").alias("pred_label"))
    )
    return (
        pred.groupBy("label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "pred_label")
    )


SIM_CENTROID_ASSIGN_ORACLE = f"""
WITH cf AS ({_SQL_CENTROID_FLAT}),
centroids AS (
    SELECT label AS c_label, list(comp ORDER BY pos) AS c_arr
    FROM cf GROUP BY label
),
scored AS (
    SELECT e.vec_id, e.label, c.c_label,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.c_arr), 6) AS sim
    FROM embeddings e CROSS JOIN centroids c
),
pred AS (
    SELECT vec_id, label, c_label AS pred_label,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, c_label) AS rn
    FROM scored
)
SELECT label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
FROM pred WHERE rn = 1
GROUP BY label, pred_label
ORDER BY label, pred_label
"""

SPECS.append(
    QuerySpec(
        "sim_label_centroids",
        sim_label_centroids,
        SIM_LABEL_CENTROIDS_ORACLE,
    )
)
SPECS.append(
    QuerySpec(
        "sim_centroid_assign",
        sim_centroid_assign,
        SIM_CENTROID_ASSIGN_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# K-means (Lloyd's algorithm, unrolled) — iterative clustering over the
# embedding corpus. Complements sim_label_centroids (one supervised
# update step) with the full unsupervised loop: seed → assign → update,
# twice. Reference parity: the reference has no clustering operator;
# this is a north-star LLM-pipeline extension (semantic corpus
# bucketing before dedup / mixture balancing).
# ---------------------------------------------------------------------------

K_SEEDS = 4  # seeds = embeddings of vec_id 0..3 (fixture ids are dense from 0)
N_LLOYD_ITERS = 2


def _kmeans_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """One assignment step: nearest centroid by max dot (unit vectors →
    cosine), ties to the lowest cluster id. The centroid side is K rows
    and BROADCASTS; the corpus side never shuffles — at 100 TB each
    Lloyd iteration is one narrow scan + one 256-group aggregate."""
    scored = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "embedding",
        "cluster",
        _dot(F.col("embedding"), F.col("c_arr")).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cluster")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "cluster")
    )


def _kmeans_update_flat(assigned: DataFrame) -> DataFrame:
    """One update step, flat (cluster, pos, comp, n_members) form —
    exact DECIMAL(30,12) component sums (order-insensitive) divided by
    the BIGINT member count, so the double components are bit-identical
    across engines."""
    return (
        assigned.select("cluster", F.posexplode("embedding").alias("pos0", "val"))
        .select("cluster", (F.col("pos0") + 1).alias("pos"), "val")
        .groupBy("cluster", "pos")
        .agg(
            F.sum(F.col("val").cast("double").cast("decimal(30,12)")).alias("s"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "cluster",
            "pos",
            (F.col("s").cast("double") / F.col("n_members")).alias("comp"),
            "n_members",
        )
    )


def _kmeans_arrays(flat: DataFrame) -> DataFrame:
    return flat.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "comp"))),
            lambda s: s.comp,
        ).alias("c_arr")
    )


def sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embedding corpus: K=4 seeds (the embeddings of
    vec_id 0..3), two unrolled Lloyd iterations, exact arithmetic at
    every step (DECIMAL sums, IEEE-identical divisions, fold-kernel
    dots) so the final centroids hash-match the DuckDB CTE chain.
    Output: the flat centroid relation after iteration 2."""
    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    emb = persist(emb)  # (b) scans 1 -> 2 without it
    centroids = emb.filter(F.col("vec_id") < K_SEEDS).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("embedding").alias("c_arr")
    )
    flat = None
    for _ in range(N_LLOYD_ITERS):
        assigned = _kmeans_assign(emb, centroids)
        flat = _kmeans_update_flat(assigned)
        centroids = _kmeans_arrays(flat)
    return flat.select(
        "cluster", "pos", F.round("comp", 6).alias("centroid_comp"), "n_members"
    ).orderBy("cluster", "pos")


def _kmeans_oracle() -> str:
    assign = """
SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cluster,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.embedding, c.c_arr) DESC, c.cluster
           ) AS rn
    FROM {points} e CROSS JOIN {cents} c
) WHERE rn = 1
"""
    update = """
SELECT cluster, pos, CAST(CAST(s AS DOUBLE) / n AS DOUBLE) AS comp, n AS n_members
FROM (
    SELECT a.cluster, u.pos,
           SUM(CAST(u.val AS DECIMAL(30,12))) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM {assigned} a,
         LATERAL (SELECT unnest(a.embedding) AS val,
                         generate_subscripts(a.embedding, 1) AS pos) u
    GROUP BY a.cluster, u.pos
)
"""
    return f"""
WITH pts AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
    FROM embeddings
),
c0 AS (
    SELECT CAST(vec_id AS INTEGER) AS cluster, embedding AS c_arr
    FROM pts WHERE vec_id < {K_SEEDS}
),
a1 AS ({assign.format(points="pts", cents="c0")}),
f1 AS ({update.format(assigned="a1")}),
c1 AS (
    SELECT cluster, list(comp ORDER BY pos) AS c_arr FROM f1 GROUP BY cluster
),
a2 AS ({assign.format(points="pts", cents="c1")}),
f2 AS ({update.format(assigned="a2")})
SELECT cluster, pos, round(comp, 6) AS centroid_comp, n_members
FROM f2 ORDER BY cluster, pos
"""


SPECS.append(
    QuerySpec(
        "sim_kmeans",
        sim_kmeans,
        _kmeans_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_K = 16  # codewords per subspace (vec_id < PQ_K seed the codebooks)
PQ_TOP_K = 5


def _pq_subvectors(df: DataFrame, id_col: str, out_id: str) -> DataFrame:
    """(id, m, sub): the M per-subspace slices of each embedding."""
    arr = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(F.col("embedding"), m * PQ_SUB + 1, PQ_SUB).alias("sub"),
            )
            for m in range(PQ_M)
        ]
    )
    return df.select(F.col(id_col).alias(out_id), F.explode(arr).alias("x")).select(
        out_id, F.col("x.m").alias("m"), F.col("x.sub").alias("sub")
    )


def _pq_encode(df_sub: DataFrame, codebook: DataFrame, id_col: str) -> DataFrame:
    """Nearest-codeword PQ encoding as a FOLD over the broadcast
    codebook (optimization r10, guide §2.4 "remove shuffles
    outright"): the former shape joined every (id, m) subvector
    against all K codewords and ran a row_number() window over the
    n·M·K intermediate just to pick a per-row argmin the row can
    compute locally. The codebook collapses to ONE collected row
    (M·K structs); each subvector row filters its own subspace's K
    codewords and folds to the (l2 ASC, code_id ASC) minimum — a
    pure map, zero exchanges in the encode stage. ``cww`` (the
    codeword self-dot) is precomputed once per codeword instead of
    once per corpus row × codeword; the l2 expression keeps the
    exact float shape ``(dss - 2*dsc) + cww`` so every rounded
    value is bit-identical to the window formulation. The (l2 ASC,
    code_id ASC) tiebreak is a total order, so the fold result is
    independent of collect_list's nondeterministic order."""
    cb1 = codebook.agg(
        F.collect_list(
            F.struct(
                "m",
                "code_id",
                "cw",
                _dot(F.col("cw"), F.col("cw")).alias("cww"),
            )
        ).alias("cball")
    ).select(
        # per-subspace index built ONCE on the collected row (M·K
        # structs) so each corpus row does an O(1) map lookup instead
        # of filtering all M·K codewords; a single global collect
        # keeps the codebook at ONE exchange (shuffle-budget parity
        # with the window shape it replaces).
        F.map_from_entries(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda i: F.struct(
                    i.alias("key"),
                    F.filter(
                        F.col("cball"), lambda e: e["m"] == i
                    ).alias("value"),
                ),
            )
        ).alias("cbmap")
    )
    cands = F.transform(
        F.element_at(F.col("cbmap"), F.col("m")),
        lambda e: F.struct(
            e["code_id"].alias("code_id"),
            F.round(
                F.col("dss") - 2 * _dot(F.col("sub"), e["cw"]) + e["cww"], 6
            ).alias("l2"),
        ),
    )
    best = F.aggregate(
        cands,
        F.struct(
            F.lit(-1).cast("long").alias("code_id"),
            F.lit(float("inf")).alias("l2"),
        ),
        lambda acc, x: F.when(
            (x["l2"] < acc["l2"])
            | ((x["l2"] == acc["l2"]) & (x["code_id"] < acc["code_id"])),
            x,
        ).otherwise(acc),
    )
    return (
        df_sub.crossJoin(cb1)
        .withColumn("dss", _dot(F.col("sub"), F.col("sub")))
        .select(id_col, "m", best.alias("b"))
        .select(id_col, "m", F.col("b.code_id").alias("code"))
    )


def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. PQ/ADC shape): the
    64-dim embedding splits into M=4 subspaces; each subspace has a
    16-entry codebook (deterministic: the first 16 corpus vectors'
    subvectors — production would k-means them, same plumbing); each
    corpus vector is ENCODED as 4 small codes by nearest-L2 codeword
    per subspace. A query builds a 4×16 lookup table of subspace dot
    products, and approximate similarity is the sum of 4 LUT entries
    (asymmetric distance computation) — never touching the original
    vector.

    Why it matters at 100 TB: the corpus index is M bytes per vector
    (codes) instead of 256 bytes of floats — the encode is one
    broadcast join + per-key argmin, the search is a broadcast LUT
    join on (m, code) with a 4-term sum, all JVM expressions. Exact
    cosine re-ranking of the PQ top list (as IVF does) would bolt on
    the same way. Deterministic end-to-end (rounded 6dp, id
    tiebreaks) → hash-matched DuckDB twin.

    The whole PQ pipeline lives once in ``sim_pq_adc_topn``; this is
    that plan at the fixed headline top-k."""
    return sim_pq_adc_topn(spark, sf_dir, PQ_TOP_K)


SIM_PQ_ADC_ORACLE = f"""
WITH sub_m(m) AS (SELECT unnest(range({PQ_M}))),
cb AS (
    SELECT vec_id AS code_id, m,
           (embedding::DOUBLE[])[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS cw
    FROM embeddings, sub_m WHERE vec_id < {PQ_K}
),
corpus_sub AS (
    SELECT vec_id AS neighbor_id, m,
           (embedding::DOUBLE[])[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sub
    FROM embeddings, sub_m
),
codes AS (
    SELECT neighbor_id, m, code_id AS code FROM (
        SELECT s.neighbor_id, s.m, c.code_id,
               ROW_NUMBER() OVER (
                   PARTITION BY s.neighbor_id, s.m
                   ORDER BY round(list_dot_product(s.sub, s.sub)
                                  - 2 * list_dot_product(s.sub, c.cw)
                                  + list_dot_product(c.cw, c.cw), 6) ASC,
                            c.code_id ASC) AS rn
        FROM corpus_sub s JOIN cb c ON s.m = c.m
    ) WHERE rn = 1
),
query_sub AS (
    SELECT vec_id AS query_id, m,
           (embedding::DOUBLE[])[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sub
    FROM embeddings, sub_m WHERE vec_id < {N_QUERIES}
),
lut AS (
    SELECT q.query_id, q.m, c.code_id AS code,
           round(list_dot_product(q.sub, c.cw), 6) AS val
    FROM query_sub q JOIN cb c ON q.m = c.m
),
approx AS (
    SELECT l.query_id, a.neighbor_id, round(SUM(l.val), 6) AS approx_sim
    FROM codes a JOIN lut l ON a.m = l.m AND a.code = l.code
    WHERE l.query_id != a.neighbor_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_sim, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY approx_sim DESC, neighbor_id ASC) AS rank
      FROM approx)
WHERE rank <= {PQ_TOP_K}
"""

SPECS.append(
    QuerySpec(
        "sim_pq_adc",
        sim_pq_adc,
        SIM_PQ_ADC_ORACLE,
    )
)


def sim_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production ANN pattern: PQ-ADC
    generates a cheap top-20 candidate list per query (stage 1, codes
    only), then ONLY those candidates are re-ranked by exact cosine
    over the original vectors (stage 2, a semi-join-sized exact
    computation). At 100 TB the exact pass touches 20 vectors per
    query instead of the corpus — the PQ index bounds the expensive
    work. Output is the exact-cosine top-5 of the PQ candidates;
    deterministic end to end, same DuckDB twin shape."""
    pq_top = 20
    candidates = (
        sim_pq_adc_topn(spark, sf_dir, pq_top)
        .select("query_id", "neighbor_id")
    )
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        candidates.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn("cosine", F.round(_dot(F.col("qe"), F.col("ne")), 6))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def sim_pq_adc_topn(spark: SparkSession, sf_dir: str, top_n: int) -> DataFrame:
    """PQ-ADC candidate generation with a parameterized list size
    (the body of ``sim_pq_adc`` minus the fixed top-k)."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    codebook = _pq_subvectors(
        load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < PQ_K),
        "vec_id",
        "code_id",
    ).select("code_id", "m", F.col("sub").alias("cw"))
    corpus_sub = _pq_subvectors(emb, "vec_id", "neighbor_id")
    # argmin codeword per (neighbor, m) as a fold over the broadcast
    # codebook — no n·M·K join intermediate, no window (see _pq_encode).
    codes = _pq_encode(corpus_sub, codebook, "neighbor_id")
    query_sub = _pq_subvectors(
        load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < N_QUERIES),
        "vec_id",
        "query_id",
    )
    lut = query_sub.join(F.broadcast(codebook), "m").select(
        "query_id",
        "m",
        F.col("code_id").alias("code"),
        F.round(_dot(F.col("sub"), F.col("cw")), 6).alias("val"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id")
    )
    return (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("val"), 6).alias("approx_sim"))
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= top_n)
    )


def _pq_rerank_oracle() -> str:
    inner = SIM_PQ_ADC_ORACLE.replace(
        f"WHERE rank <= {PQ_TOP_K}", "WHERE rank <= 20"
    )
    return f"""
WITH pq AS ({inner})
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM (
    SELECT pq.query_id, pq.neighbor_id,
           round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
           ROW_NUMBER() OVER (
               PARTITION BY pq.query_id
               ORDER BY round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                        pq.neighbor_id ASC) AS rank
    FROM pq
    JOIN embeddings q ON q.vec_id = pq.query_id
    JOIN embeddings c ON c.vec_id = pq.neighbor_id
)
WHERE rank <= {TOP_K}
"""


SPECS.append(
    QuerySpec(
        "sim_pq_rerank",
        sim_pq_rerank,
        _pq_rerank_oracle(),
    )
)


def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification evaluation over the labeled embedding
    corpus: each query's exact top-k cosine neighbors vote by label
    (majority; ties break to the smaller label id — a total order, so
    the prediction is deterministic). This is the eval harness every
    retrieval index here (LSH / IVF / PQ) gets judged against at
    serving time: swap ``sim_topk_bruteforce`` for an ANN variant and
    the same vote measures end-task accuracy loss, not just recall.
    Plan shape: the neighbor list is query-broadcast (corpus scanned
    once, never shuffled); the vote is a tiny two-level aggregate."""
    emb = load(spark, sf_dir, "embeddings")
    neighbors = sim_topk_bruteforce(spark, sf_dir)
    labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    votes = (
        neighbors.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("n_label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("n_label").alias("predicted_label"), "votes")
    )
    truth = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "true_label",
        "predicted_label",
        F.col("votes").cast("int").alias("votes"),
        (F.col("true_label") == F.col("predicted_label")).alias("correct"),
    )


SIM_KNN_CLASSIFY_ORACLE = f"""
WITH topk AS ({SIM_TOPK_BRUTEFORCE_ORACLE}),
votes AS (
    SELECT t.query_id, e.label AS n_label, COUNT(*) AS votes
    FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
    GROUP BY 1, 2
),
pred AS (
    SELECT query_id, n_label AS predicted_label, votes
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY votes DESC, n_label ASC) AS rn
          FROM votes)
    WHERE rn = 1
)
SELECT p.query_id, e.label AS true_label, p.predicted_label,
       CAST(p.votes AS INTEGER) AS votes,
       e.label = p.predicted_label AS correct
FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
"""


SPECS.append(
    QuerySpec(
        "sim_knn_classify",
        sim_knn_classify,
        SIM_KNN_CLASSIFY_ORACLE,
    )
)


def sim_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the metadata-predicate variant every
    production vector store needs (RAG retrieval scoped to a tenant /
    language / date range): each query's top-k neighbors restricted
    to corpus vectors sharing the QUERY'S OWN label. Implemented as
    PRE-filtering: the label predicate lands in the corpus-side scan
    (equi-condition in the broadcast join), so distances are computed
    for matching rows only — post-filtering the unfiltered top-k (the
    naive composition) silently returns FEWER than k or misses
    qualifying neighbors entirely when the filter is selective. With
    a 10-label corpus this scans ~10% of the table per query; the
    oracle runs the identical pre-filter formulation."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    corpus = spread(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("label").alias("nlabel"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(queries)
        .join(
            corpus,
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("qlabel") == F.col("nlabel")),
        )
        .withColumn("cosine", F.round(_dot(F.col("qe"), F.col("ne")), 6))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("qlabel").alias("label"), "neighbor_id", "cosine", "rank")
    )


SIM_TOPK_FILTERED_ORACLE = f"""
SELECT query_id, label, neighbor_id, cosine, rank FROM (
    SELECT q.vec_id AS query_id, q.label AS label, c.vec_id AS neighbor_id,
           round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                        c.vec_id ASC) AS INTEGER) AS rank
    FROM embeddings q
    JOIN embeddings c ON q.vec_id <> c.vec_id AND q.label = c.label
    WHERE q.vec_id < {N_QUERIES}
)
WHERE rank <= {TOP_K}
"""

SPECS.append(
    QuerySpec(
        "sim_topk_filtered",
        sim_topk_filtered,
        SIM_TOPK_FILTERED_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# sim_mmr_rerank — Maximal Marginal Relevance diversified re-ranking
# (Carbonell & Goldstein, SIGIR'98)
# ---------------------------------------------------------------------------

MMR_POOL = 20  # candidate pool (exact top-N by relevance)
MMR_K = 5  # diversified picks
_MMR_L = "CAST(0.7 AS DOUBLE)"  # λ — SQL literal twin of F.lit(0.7)
_MMR_D = "CAST(0.3 AS DOUBLE)"  # 1-λ, stated as its own literal (not 1-0.7)


def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-ranking for retrieval diversity: take the exact top-20
    cosine candidates for query vec_id=0, then greedily select 5,
    each step maximizing ``λ·rel − (1−λ)·max_sim_to_selected`` —
    the standard RAG-retrieval diversifier.

    Scale split: the only corpus-scale work is the candidate pool —
    a broadcast-query scan ranked via ``orderBy().limit(N)``
    (TakeOrderedAndProject: per-partition top-N, never a global
    sort). The 4 unrolled greedy steps then run on the ≤20-row pool
    (persisted; each step an anti-join + broadcast pair-max +
    take-ordered-1) — bounded work independent of corpus size. λ and
    1−λ are stated as separate literals in BOTH engines so the score
    arithmetic is bit-identical (1−0.7 ≠ 0.3 in binary FP).
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    # .limit(1) is a no-op on the unique-key filter (vec_id == 0 is one
    # row) but makes the broadcast side's boundedness visible by
    # construction — to the planner and to the plan audit's
    # fact-reaching-broadcast gate (r10: the formerly persisted pool hid
    # this subtree inside an InMemoryRelation leaf).
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qe"))
        .limit(1)
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .withColumn("rel", F.round(_dot(F.col("embedding"), F.col("qe")), 6))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_POOL)
        .select("vec_id", "embedding", "rel")
    )
    lam, div = F.lit(0.7), F.lit(0.3)
    # The greedy selection runs as ONE expression chain over the pool
    # collected into a single row (optimization r10, guide §2.4 + §5):
    # the former per-step anti-join + broadcast pair-max +
    # take-ordered-1 + persist shape was ~25 tiny jobs of pure fixed
    # overhead on a ≤20-row relation. Folding the 4 unrolled steps
    # into argmax folds over the pool array makes the whole query one
    # job (scan → TakeOrdered(20) → collect_list → explode). Every
    # rounding site and tiebreak is unchanged: pick = argmax by
    # (mmr_score DESC, vec_id ASC); max_sim is a greatest-fold (order-
    # insensitive max of rounded pairwise dots); the folds' total
    # order makes them insensitive to collect_list order. Each step
    # lives in its own projection (the non-cheap folds are not
    # collapsed, so step k's expression is evaluated once, not
    # re-inlined exponentially).
    pool1 = cand.agg(
        F.collect_list(F.struct("vec_id", "embedding", "rel")).alias("pool")
    )

    def argmax(arr, better):
        init = F.struct(
            F.lit(None).cast("long").alias("vec_id"),
            F.lit(None).cast("array<double>").alias("embedding"),
            F.lit(None).cast("double").alias("rel"),
            F.lit(None).cast("double").alias("mmr_score"),
        )
        return F.aggregate(
            arr,
            init,
            lambda acc, x: F.when(
                acc["vec_id"].isNull() | better(x, acc), x
            ).otherwise(acc),
        )

    first_scored = F.transform(
        "pool",
        lambda p: F.struct(
            p["vec_id"].alias("vec_id"),
            p["embedding"].alias("embedding"),
            p["rel"].alias("rel"),
            F.round(lam * p["rel"], 6).alias("mmr_score"),
        ),
    )
    by_rel = lambda x, a: (x["rel"] > a["rel"]) | (  # noqa: E731
        (x["rel"] == a["rel"]) & (x["vec_id"] < a["vec_id"])
    )
    by_mmr = lambda x, a: (x["mmr_score"] > a["mmr_score"]) | (  # noqa: E731
        (x["mmr_score"] == a["mmr_score"]) & (x["vec_id"] < a["vec_id"])
    )
    def appended(prev_sel, pick, step):
        # pick is referenced exactly ONCE (filter of a 1-element array,
        # then a transform stamps sel_order): re-extracting its fields
        # would inline the argmax fold once per field and — across the
        # 4 chained steps — blow the expression tree up exponentially
        # (measured: analyzer never returned). The filter also handles
        # the empty-candidate case (null pick → empty array → no-op
        # concat) without a when() that would re-reference pick.
        return F.concat(
            prev_sel,
            F.transform(
                F.filter(F.array(pick), lambda s: s["vec_id"].isNotNull()),
                lambda s: F.struct(
                    s["vec_id"].alias("vec_id"),
                    s["embedding"].alias("embedding"),
                    s["rel"].alias("rel"),
                    F.lit(step).alias("sel_order"),
                    s["mmr_score"].alias("mmr_score"),
                ),
            ),
        )

    def barrier(frame):
        # a Generate node between steps: CollapseProject cannot merge
        # across it, so each step's folds stay in their own projection
        # and are evaluated once (1 extra no-op explode on a 1-row
        # relation per step).
        return frame.select(
            F.explode(F.array(F.struct("pool", "sel"))).alias("z")
        ).select(F.col("z.pool").alias("pool"), F.col("z.sel").alias("sel"))

    df = pool1.select(
        "pool",
        appended(
            F.array().cast(
                "array<struct<vec_id:bigint,embedding:array<double>,"
                "rel:double,sel_order:int,mmr_score:double>>"
            ),
            argmax(first_scored, by_rel),
            1,
        ).alias("sel"),
    )
    for step in range(2, MMR_K + 1):
        df = barrier(df)
        scored = F.transform(
            F.filter(
                "pool",
                lambda p: ~F.exists(
                    F.col("sel"), lambda s: s["vec_id"] == p["vec_id"]
                ),
            ),
            lambda p: F.struct(
                p["vec_id"].alias("vec_id"),
                p["embedding"].alias("embedding"),
                p["rel"].alias("rel"),
                F.round(
                    lam * p["rel"]
                    - div
                    * F.aggregate(
                        F.col("sel"),
                        F.lit(float("-inf")),
                        lambda m, s: F.greatest(
                            m, F.round(_dot(p["embedding"], s["embedding"]), 6)
                        ),
                    ),
                    6,
                ).alias("mmr_score"),
            ),
        )
        df = df.select(
            "pool", appended(F.col("sel"), argmax(scored, by_mmr), step).alias("sel")
        )
    return (
        df.select(F.explode("sel").alias("s"))
        .select("s.sel_order", "s.vec_id", "s.rel", "s.mmr_score")
        .orderBy("sel_order")
    )


def _mmr_oracle() -> str:
    parts = [
        f"""pool AS MATERIALIZED (
    SELECT c.vec_id, CAST(c.embedding AS DOUBLE[]) AS embedding,
           round(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                  CAST(q.embedding AS DOUBLE[])), 6) AS rel
    FROM embeddings c,
         (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE c.vec_id <> 0
    ORDER BY rel DESC, c.vec_id LIMIT {MMR_POOL}
)""",
        f"""sel1 AS MATERIALIZED (
    SELECT vec_id, embedding, rel, 1 AS sel_order,
           round({_MMR_L} * rel, 6) AS mmr_score
    FROM pool ORDER BY rel DESC, vec_id LIMIT 1
)""",
    ]
    prev = ["sel1"]
    for step in range(2, MMR_K + 1):
        selunion = " UNION ALL ".join(f"SELECT * FROM {p}" for p in prev)
        parts.append(
            f"""sel{step} AS MATERIALIZED (
    SELECT vec_id, embedding, rel, {step} AS sel_order, mmr_score FROM (
        SELECT p.vec_id, p.embedding, p.rel,
               round({_MMR_L} * p.rel - {_MMR_D} *
                     max(round(list_dot_product(p.embedding, s.embedding), 6)),
                     6) AS mmr_score
        FROM pool p, ({selunion}) s
        WHERE p.vec_id NOT IN (SELECT vec_id FROM ({selunion}))
        GROUP BY p.vec_id, p.embedding, p.rel
    ) ORDER BY mmr_score DESC, vec_id LIMIT 1
)"""
        )
        prev.append(f"sel{step}")
    allsel = " UNION ALL ".join(f"SELECT * FROM {p}" for p in prev)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT sel_order, vec_id, rel, mmr_score FROM ({allsel}) ORDER BY sel_order"
    )


SPECS.append(
    QuerySpec(
        "sim_mmr_rerank",
        sim_mmr_rerank,
        _mmr_oracle(),
    )
)


# ---------------------------------------------------------------------------
# sim_matryoshka_rerank — prefix-dimension retrieve, full-dimension rerank
# ---------------------------------------------------------------------------

MRL_PREFIX_DIM = 16  # retrieval uses the first 16 of 64 dims
MRL_SHORTLIST = 10  # prefix-dim shortlist per query, reranked full-dim


def sim_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style adaptive retrieval (Kusupati et al. 2022):
    retrieve a shortlist with the first ``MRL_PREFIX_DIM`` embedding
    dimensions (4× cheaper dot products and 4× smaller index), then
    rerank the shortlist with the FULL vector, reporting for each
    kept neighbor whether the exact full-dimension top-k would also
    contain it — the recall audit that tells you whether the cheap
    prefix index is safe to deploy.

    Determinism: both scoring passes round to 6dp with id
    tiebreaks. Scale: the query side broadcasts; the corpus is
    scanned once for the prefix pass (a 16-dim fold, fused into the
    scan); the full-dim rerank touches only ``MRL_SHORTLIST`` rows
    per query; the exact audit reuses the brute-force pass — at
    deploy scale you drop the audit leg and keep the cheap path."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
    )
    joined = F.broadcast(queries).join(
        corpus, F.col("query_id") != F.col("neighbor_id")
    )
    w_pre = Window.partitionBy("query_id").orderBy(
        F.desc("prefix_cosine"), F.asc("neighbor_id")
    )
    shortlist = (
        joined.withColumn(
            "prefix_cosine",
            F.round(
                _dot(
                    F.slice(F.col("qe"), 1, MRL_PREFIX_DIM),
                    F.slice(F.col("ne"), 1, MRL_PREFIX_DIM),
                ),
                6,
            ),
        )
        .withColumn("prerank", F.row_number().over(w_pre))
        .filter(F.col("prerank") <= MRL_SHORTLIST)
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("full_cosine"), F.asc("neighbor_id")
    )
    reranked = (
        shortlist.withColumn(
            "full_cosine", F.round(_dot(F.col("qe"), F.col("ne")), 6)
        )
        .withColumn("rank", F.row_number().over(w_full).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "full_cosine", "rank")
    )
    exact = (
        joined.withColumn(
            "full_cosine", F.round(_dot(F.col("qe"), F.col("ne")), 6)
        )
        .withColumn("xrank", F.row_number().over(w_full))
        .filter(F.col("xrank") <= TOP_K)
        .select(
            F.col("query_id").alias("xq"), F.col("neighbor_id").alias("xn")
        )
    )
    return (
        reranked.join(
            exact,
            (reranked["query_id"] == exact["xq"])
            & (reranked["neighbor_id"] == exact["xn"]),
            "left",
        )
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            "full_cosine",
            F.col("xq").isNotNull().cast("int").alias("in_exact_topk"),
        )
        .orderBy("query_id", "rank")
    )


SIM_MATRYOSHKA_RERANK_ORACLE = f"""
WITH pts AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
),
joined AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           q.embedding AS qe, c.embedding AS ne
    FROM pts q JOIN pts c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {N_QUERIES}
),
shortlist AS (
    SELECT query_id, neighbor_id, qe, ne FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY round(list_dot_product(qe[1:{MRL_PREFIX_DIM}],
                                            ne[1:{MRL_PREFIX_DIM}]), 6) DESC,
                     neighbor_id
        ) AS prerank
        FROM joined
    ) WHERE prerank <= {MRL_SHORTLIST}
),
reranked AS (
    SELECT query_id, neighbor_id,
           round(list_dot_product(qe, ne), 6) AS full_cosine,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_dot_product(qe, ne), 6) DESC, neighbor_id
           ) AS INTEGER) AS rank
    FROM shortlist
),
exact AS (
    SELECT query_id AS xq, neighbor_id AS xn FROM (
        SELECT query_id, neighbor_id, row_number() OVER (
            PARTITION BY query_id
            ORDER BY round(list_dot_product(qe, ne), 6) DESC, neighbor_id
        ) AS xrank
        FROM joined
    ) WHERE xrank <= {TOP_K}
)
SELECT r.query_id, r.rank, r.neighbor_id, r.full_cosine,
       CAST(CASE WHEN e.xq IS NULL THEN 0 ELSE 1 END AS INTEGER)
           AS in_exact_topk
FROM reranked r
LEFT JOIN exact e ON r.query_id = e.xq AND r.neighbor_id = e.xn
WHERE r.rank <= {TOP_K}
ORDER BY r.query_id, r.rank
"""

SPECS.append(
    QuerySpec(
        "sim_matryoshka_rerank",
        sim_matryoshka_rerank,
        SIM_MATRYOSHKA_RERANK_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# sim_centroid_drift — embedding-distribution drift per class
# ---------------------------------------------------------------------------

_CD_THRESH = "0.05"  # displacement alarm threshold (embedding units)


def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: split the corpus into two
    deterministic hash halves (reference vs current — the
    snapshot-vs-serving comparison an embedding pipeline runs after
    a model or upstream-data change) and measure each class
    centroid's DISPLACEMENT ‖μ_cur − μ_ref‖₂. The centroid means
    are exact DECIMAL component sums per half (the
    `sim_label_centroids` discipline); each squared component
    difference is rounded to 12 dp and summed as DECIMAL
    (order-free), so the final sqrt is bit-identical cross-engine.
    Shape: one posexplode → (label, pos, half) hash aggregation with
    map-side combine; everything downstream is (labels × dims)
    rows."""
    emb = load(spark, sf_dir, "embeddings")
    half = (
        _h32(F.concat(F.lit("drift-"), F.col("vec_id"))) % 2
    ).alias("half")
    flat = (
        emb.select("label", half, F.posexplode("embedding").alias("pos0", "val"))
        .groupBy("label", "half", F.col("pos0").alias("pos"))
        .agg(
            F.sum(F.col("val").cast("double").cast("decimal(30,12)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "half",
            "pos",
            (F.col("s").cast("double") / F.col("n")).alias("m"),
            "n",
        )
    )
    ref = flat.filter(F.col("half") == 0).select(
        "label", "pos", F.col("m").alias("m0"), F.col("n").alias("n0")
    )
    cur = flat.filter(F.col("half") == 1).select(
        "label", "pos", F.col("m").alias("m1"), F.col("n").alias("n1")
    )
    terms = ref.join(cur, ["label", "pos"]).select(
        "label",
        "n0",
        "n1",
        F.round((F.col("m1") - F.col("m0")) * (F.col("m1") - F.col("m0")), 12)
        .cast("decimal(24,12)")
        .alias("t"),
    )
    return (
        terms.groupBy("label")
        .agg(
            F.max("n0").cast("bigint").alias("n_ref"),
            F.max("n1").cast("bigint").alias("n_cur"),
            F.sum("t").alias("ss"),
        )
        .select(
            "label",
            "n_ref",
            "n_cur",
            F.round(F.sqrt(F.col("ss").cast("double")), 6).alias("displacement"),
            (
                F.round(F.sqrt(F.col("ss").cast("double")), 6)
                > F.lit(float(_CD_THRESH))
            ).alias("drift_alarm"),
        )
        .orderBy("label")
    )


SIM_CENTROID_DRIFT_ORACLE = f"""
WITH flat AS (
    SELECT e.label,
           ('0x' || substring(md5('drift-' || e.vec_id), 1, 8))::BIGINT % 2
               AS half,
           u.pos - 1 AS pos,
           SUM(CAST(CAST(u.val AS DOUBLE) AS DECIMAL(30,12))) AS s,
           COUNT(*) AS n
    FROM embeddings e,
         LATERAL (SELECT unnest(e.embedding) AS val,
                         generate_subscripts(e.embedding, 1) AS pos) u
    GROUP BY 1, 2, 3
),
m AS (SELECT label, half, pos, CAST(s AS DOUBLE) / n AS m, n FROM flat),
terms AS (
    SELECT r.label, r.n AS n0, c.n AS n1,
           CAST(round((c.m - r.m) * (c.m - r.m), 12) AS DECIMAL(24,12)) AS t
    FROM (SELECT * FROM m WHERE half = 0) r
    JOIN (SELECT * FROM m WHERE half = 1) c USING (label, pos)
)
SELECT label,
       CAST(MAX(n0) AS BIGINT) AS n_ref,
       CAST(MAX(n1) AS BIGINT) AS n_cur,
       round(sqrt(CAST(SUM(t) AS DOUBLE)), 6) AS displacement,
       round(sqrt(CAST(SUM(t) AS DOUBLE)), 6) > {_CD_THRESH} AS drift_alarm
FROM terms GROUP BY label ORDER BY label
"""

SPECS.append(
    QuerySpec(
        "sim_centroid_drift",
        sim_centroid_drift,
        SIM_CENTROID_DRIFT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + PQ-encoded residuals (the production index)
# ---------------------------------------------------------------------------

IVFPQ_TOP_K = 5


def sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — ``sim_ivf_flat``'s inverted lists combined with
    ``sim_pq_adc``'s product quantization, but over RESIDUALS
    (vector − assigned centroid), which is how FAISS's production
    ``IVFx,PQy`` indexes store billion-vector corpora: the coarse
    quantizer absorbs the bulk of each vector's energy, the PQ codes
    only have to describe the (much smaller) residual, and the
    stored index is M bytes + a centroid id per vector.

    Search decomposes the inner product exactly: q·x = q·c + q·r,
    approximated as round(q·c) (exact, tiny centroid table) plus
    Σ_m LUT[m, code_m] (ADC over the residual codebook). Only the
    nprobe nearest inverted lists are scanned per query.

    Determinism: every dot product is rounded to 6dp and summed as
    DECIMAL(18,6) (exact associativity under Spark's unordered
    partial aggregation), id tiebreaks everywhere — so the DuckDB
    twin of the same pipeline hash-matches end to end.

    Scale posture: centroid table and residual codebook broadcast
    (8 + 64 rows); corpus is touched twice, both narrow (assignment,
    encoding); the search-side join keys candidates on centroid_id
    then (m, code) — no cross join anywhere.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    cents = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_CENTROIDS)
        .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce"))
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    # Nearest-centroid assignment as a FOLD over the broadcast centroid
    # array (optimization r10, guide §2.4): the former explode +
    # row_number() shuffled K·n embedding-carrying rows to pick a
    # per-row argmax. One transform (same K dots) + an argmax fold is a
    # pure map — zero exchanges. The (c_sim DESC, centroid_id ASC)
    # tiebreak is a total order, so the fold is insensitive to
    # collect_list order; the winner is identical to row_number()=1.
    cents1 = cents.agg(F.collect_list(F.struct("centroid_id", "ce")).alias("cents"))
    c_sims = F.transform(
        "cents",
        lambda cand: F.struct(
            cand["centroid_id"].alias("centroid_id"),
            F.round(_dot(F.col("ne"), cand["ce"]), 6).alias("c_sim"),
            cand["ce"].alias("ce"),
        ),
    )
    c_best = F.aggregate(
        c_sims,
        F.struct(
            F.lit(-1).cast("long").alias("centroid_id"),
            F.lit(float("-inf")).alias("c_sim"),
            F.lit(None).cast("array<double>").alias("ce"),
        ),
        lambda acc, x: F.when(
            (x["c_sim"] > acc["c_sim"])
            | ((x["c_sim"] == acc["c_sim"]) & (x["centroid_id"] < acc["centroid_id"])),
            x,
        ).otherwise(acc),
    )
    assigned = (
        corpus.crossJoin(cents1)
        .select("neighbor_id", "ne", c_best.alias("b"))
        .select(
            "neighbor_id",
            F.col("b.centroid_id").alias("centroid_id"),
            F.zip_with(
                "ne", "b.ce", lambda x, y: x.cast("double") - y.cast("double")
            ).alias("r"),
        )
    )

    def res_sub(df: DataFrame, id_col: str) -> DataFrame:
        arr = F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    F.slice("r", m * PQ_SUB + 1, PQ_SUB).alias("sub"),
                )
                for m in range(PQ_M)
            ]
        )
        return df.select(F.col(id_col), F.explode(arr).alias("x")).select(
            id_col, F.col("x.m").alias("m"), F.col("x.sub").alias("sub")
        )

    cb = res_sub(assigned.filter(F.col("neighbor_id") < PQ_K), "neighbor_id").select(
        F.col("neighbor_id").alias("code_id"), "m", F.col("sub").alias("cw")
    )
    corpus_sub = res_sub(assigned, "neighbor_id")
    # argmin codeword per (neighbor, m) as a fold over the broadcast
    # residual codebook — no n·M·K join intermediate, no window
    # (see _pq_encode; identical rounded l2, identical tiebreak).
    codes = _pq_encode(corpus_sub, cb, "neighbor_id")

    queries = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qc_sim"), F.asc("centroid_id"))
    probed = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("qc_sim", F.round(_dot(F.col("qe"), F.col("ce")), 6))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "centroid_id", F.col("qc_sim").cast("decimal(18,6)").alias("qc_sim"))
    )
    q_sub = queries.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(
                            F.transform("qe", lambda x: x.cast("double")),
                            m * PQ_SUB + 1,
                            PQ_SUB,
                        ).alias("sub"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("x"),
    ).select("query_id", F.col("x.m").alias("m"), F.col("x.sub").alias("sub"))
    lut = q_sub.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        F.col("code_id").alias("code"),
        F.round(_dot(F.col("sub"), F.col("cw")), 6).cast("decimal(18,6)").alias("val"),
    )

    cand = probed.join(assigned.select("neighbor_id", "centroid_id"), "centroid_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"), F.asc("neighbor_id"))
    return (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id", "centroid_id", "qc_sim")
        .agg(F.sum("val").alias("pq_sum"))
        .select(
            "query_id",
            "neighbor_id",
            "centroid_id",
            (F.col("qc_sim") + F.col("pq_sum")).cast("double").alias("approx_sim"),
        )
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= IVFPQ_TOP_K)
    )


SIM_IVFPQ_ORACLE = f"""
WITH cents AS MATERIALIZED (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS ce
    FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
corpus AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ne FROM embeddings),
assigned AS MATERIALIZED (
    SELECT neighbor_id, centroid_id,
           [ne[i] - ce[i] FOR i IN generate_series(1, {DIM})] AS r
    FROM (
        SELECT c.neighbor_id, k.centroid_id, c.ne, k.ce,
               ROW_NUMBER() OVER (
                   PARTITION BY c.neighbor_id
                   ORDER BY round(list_dot_product(c.ne, k.ce), 6) DESC,
                            k.centroid_id ASC) AS rn
        FROM corpus c CROSS JOIN cents k
    ) WHERE rn = 1
),
sub_m(m) AS (SELECT unnest(range({PQ_M}))),
cb AS MATERIALIZED (
    SELECT neighbor_id AS code_id, m,
           r[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS cw
    FROM assigned, sub_m WHERE neighbor_id < {PQ_K}
),
corpus_sub AS (
    SELECT neighbor_id, m, r[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sub
    FROM assigned, sub_m
),
codes AS MATERIALIZED (
    SELECT neighbor_id, m, code_id AS code FROM (
        SELECT s.neighbor_id, s.m, c.code_id,
               ROW_NUMBER() OVER (
                   PARTITION BY s.neighbor_id, s.m
                   ORDER BY round(list_dot_product(s.sub, s.sub)
                                  - 2 * list_dot_product(s.sub, c.cw)
                                  + list_dot_product(c.cw, c.cw), 6) ASC,
                            c.code_id ASC) AS rn
        FROM corpus_sub s JOIN cb c ON s.m = c.m
    ) WHERE rn = 1
),
queries AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
probed AS MATERIALIZED (
    SELECT query_id, centroid_id, CAST(qc_sim AS DECIMAL(18,6)) AS qc_sim FROM (
        SELECT q.query_id, k.centroid_id,
               round(list_dot_product(q.qe, k.ce), 6) AS qc_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_dot_product(q.qe, k.ce), 6) DESC,
                            k.centroid_id ASC) AS rn
        FROM queries q CROSS JOIN cents k
    ) WHERE rn <= {N_PROBE}
),
q_sub AS (
    SELECT query_id, m, qe[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sub
    FROM queries, sub_m
),
lut AS MATERIALIZED (
    SELECT q.query_id, q.m, c.code_id AS code,
           CAST(round(list_dot_product(q.sub, c.cw), 6) AS DECIMAL(18,6)) AS val
    FROM q_sub q JOIN cb c ON q.m = c.m
),
cand AS (
    SELECT p.query_id, a.neighbor_id, p.centroid_id, p.qc_sim
    FROM probed p JOIN assigned a USING (centroid_id)
    WHERE p.query_id <> a.neighbor_id
),
summed AS (
    SELECT c.query_id, c.neighbor_id, c.centroid_id,
           CAST(c.qc_sim + SUM(l.val) AS DOUBLE) AS approx_sim
    FROM cand c
    JOIN codes co ON co.neighbor_id = c.neighbor_id
    JOIN lut l ON l.query_id = c.query_id AND l.m = co.m AND l.code = co.code
    GROUP BY c.query_id, c.neighbor_id, c.centroid_id, c.qc_sim
)
SELECT query_id, neighbor_id, centroid_id, approx_sim,
       CAST(rank AS INTEGER) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id
        ORDER BY approx_sim DESC, neighbor_id ASC) AS rank
    FROM summed
) WHERE rank <= {IVFPQ_TOP_K}
"""

SPECS.append(
    QuerySpec(
        "sim_ivfpq",
        sim_ivfpq,
        SIM_IVFPQ_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): per-dimension int8 codes + asymmetric search
# ---------------------------------------------------------------------------


def sim_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization of the embedding corpus to one byte per
    dimension (FAISS SQ8): per-dimension [min, max] over the corpus →
    code_i = floor((x_i − min_i)/(max_i − min_i)·255), reconstructed
    at search time as the cell midpoint. Queries stay full-precision
    (asymmetric distance), and the op reports, per approx-top-k pair,
    the approximate similarity, the exact cosine, and the absolute
    error — the quantization-quality readout you run before switching
    a 100 TB vector store from 4-byte floats to 1-byte codes (4×
    smaller index; here the eval itself is the brute-force baseline
    shape, broadcast queries over one corpus scan).

    The per-dimension stats are ONE partial+final aggregate (128
    values total, broadcast back), mergeable across corpus shards
    exactly like the MinHash signatures in ``sim_corpus_overlap``.
    Every expression is closed-form double arithmetic identical in
    DuckDB, so even the quantization cells hash-match.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    # per-dimension min/max as TWO parsed exprs instead of 2*DIM
    # Column-API aggregate constructions (optimization r10 py4j-chatter
    # reduction; see dedup._bands_from_shingles) — same expressions,
    # same one partial+final aggregate.
    mn_exprs = ", ".join(
        f"min(cast(element_at(ne, {i + 1}) AS double))" for i in range(DIM)
    )
    mx_exprs = ", ".join(
        f"max(cast(element_at(ne, {i + 1}) AS double))" for i in range(DIM)
    )
    stats = corpus.agg(
        F.expr(f"array({mn_exprs})").alias("mn"),
        F.expr(f"array({mx_exprs})").alias("mx"),
    )
    rng_i = lambda i: F.element_at(F.col("mx"), i) - F.element_at(F.col("mn"), i)  # noqa: E731
    xh = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: F.when(rng_i(i) == 0, F.element_at(F.col("mn"), i)).otherwise(
            F.element_at(F.col("mn"), i)
            + (
                F.floor(
                    (F.element_at(F.col("ne"), i).cast("double") - F.element_at(F.col("mn"), i))
                    / rng_i(i)
                    * 255
                )
                + 0.5
            )
            * rng_i(i)
            / 256
        ),
    )
    recon = corpus.crossJoin(stats).select("neighbor_id", "ne", xh.alias("xh"))
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"), F.asc("neighbor_id"))
    return (
        F.broadcast(queries)
        .join(recon, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("approx_sim", F.round(_dot(F.col("qe"), F.col("xh")), 6))
        .withColumn("exact_sim", F.round(_dot(F.col("qe"), F.col("ne")), 6))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "approx_sim",
            "exact_sim",
            F.round(F.abs(F.col("approx_sim") - F.col("exact_sim")), 6).alias("abs_err"),
            "rank",
        )
    )


SIM_SQ8_ERROR_ORACLE = f"""
WITH dims AS (SELECT unnest(range(1, {DIM} + 1)) AS d),
stats AS MATERIALIZED (
    SELECT d, MIN(emb[d]) AS mn, MAX(emb[d]) AS mx
    FROM (SELECT embedding::DOUBLE[] AS emb FROM embeddings), dims
    GROUP BY d
),
recon AS MATERIALIZED (
    SELECT e.vec_id AS neighbor_id, e.emb AS ne,
           list(CASE WHEN s.mx = s.mn THEN s.mn
                     ELSE s.mn + (floor((e.emb[s.d] - s.mn) / (s.mx - s.mn) * 255) + 0.5)
                                 * (s.mx - s.mn) / 256 END
                ORDER BY s.d) AS xh
    FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) e
    CROSS JOIN stats s
    GROUP BY e.vec_id, e.emb
),
scored AS (
    SELECT q.vec_id AS query_id, r.neighbor_id,
           round(list_dot_product(q.embedding::DOUBLE[], r.xh), 6) AS approx_sim,
           round(list_dot_product(q.embedding::DOUBLE[], r.ne), 6) AS exact_sim
    FROM embeddings q JOIN recon r ON q.vec_id <> r.neighbor_id
    WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, approx_sim, exact_sim,
       round(abs(approx_sim - exact_sim), 6) AS abs_err,
       CAST(rank AS INTEGER) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY approx_sim DESC, neighbor_id ASC) AS rank
    FROM scored
) WHERE rank <= {TOP_K}
"""

SPECS.append(
    QuerySpec(
        "sim_sq8_error",
        sim_sq8_error,
        SIM_SQ8_ERROR_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# sim_random_projection — Johnson-Lindenstrauss sign projection + audit
# ---------------------------------------------------------------------------

JL_K = 16  # target dimensionality (DIM=64 -> 4x smaller vectors)


def _jl_signs() -> list[list[float]]:
    """Deterministic Rademacher (±1) projection matrix, K rows × DIM
    cols, derived from md5 parity so both engines inline the SAME
    literals (no RNG, no state)."""
    import hashlib  # noqa: PLC0415

    return [
        [
            1.0 if hashlib.md5(f"jl:{k}:{i}".encode()).digest()[0] % 2 == 0 else -1.0
            for i in range(DIM)
        ]
        for k in range(JL_K)
    ]


_JL_S = _jl_signs()


def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection of the embedding corpus
    (DIM=64 → JL_K=16 via a ±1 Rademacher matrix) with the per-vector
    distortion audit: for a sign matrix S, E[(S·v)ₖ²] = ‖v‖², so
    Σₖ(S·v)ₖ² / (K·‖v‖²) should concentrate near 1 — the readout you
    run before switching a 100 TB ANN index to reduced-dimension
    vectors (4× less memory/IO per vector).

    Shape: a NARROW per-row map — each projected coordinate is one
    fixed-order fold over the embedding array (the shared `dot`
    kernel), no shuffle, no UDF; scales linearly and pushes straight
    onto a parquet scan. The matrix is inlined as literals in BOTH
    engines, and every float op (product fold, square fold, ppm
    division) is order-fixed, so the audit hash-matches bit-exactly.
    """
    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    # the 16 projected coordinates as ONE parsed expr (optimization
    # r10): the Column-API form cost 1,024 F.lit() py4j round trips
    # plus 16 higher-order-function constructions (each converting a
    # Python lambda); this string parses to the IDENTICAL fold —
    # same zip_with product, same 0.0-seeded left-to-right aggregate —
    # in a single JVM call. ±1.0 literals parse to identical doubles.
    def _sql_dot(vec: str, row) -> str:
        lits = ", ".join(f"{s!r}D" for s in row)
        return (
            f"aggregate(zip_with({vec}, array({lits}), "
            "(x, y) -> CAST(x AS double) * CAST(y AS double)), "
            "0.0D, (acc, v) -> acc + v)"
        )

    proj = F.expr(
        "array({})".format(
            ", ".join(_sql_dot("embedding", row) for row in _JL_S)
        )
    )
    orig_ss = _dot(F.col("embedding"), F.col("embedding"))
    out = emb.select(
        "vec_id",
        orig_ss.alias("orig_ss"),
        proj.alias("proj"),
    ).select(
        "vec_id",
        F.round("orig_ss", 6).alias("orig_ss"),
        F.round(_dot(F.col("proj"), F.col("proj")), 6).alias("proj_ss"),
        F.when(
            F.col("orig_ss") > 0,
            F.round(_dot(F.col("proj"), F.col("proj")) * 1_000_000
                    / (F.lit(JL_K) * F.col("orig_ss"))).cast("bigint"),
        ).alias("distortion_ppm"),
    )
    return out


def _jl_oracle() -> str:
    rows = []
    for row in _JL_S:
        lits = ", ".join(str(s) for s in row)
        rows.append(f"list_dot_product(embedding::DOUBLE[], [{lits}]::DOUBLE[])")
    proj_arr = "[" + ",\n            ".join(rows) + "]"
    return f"""
WITH p AS (
    SELECT vec_id,
           list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS orig_ss,
           {proj_arr} AS proj
    FROM embeddings
)
SELECT vec_id,
       round(orig_ss, 6) AS orig_ss,
       round(list_dot_product(proj, proj), 6) AS proj_ss,
       CASE WHEN orig_ss > 0 THEN
           CAST(round(list_dot_product(proj, proj) * 1000000
                      / ({JL_K} * orig_ss)) AS BIGINT)
       END AS distortion_ppm
FROM p
"""


SPECS.append(
    QuerySpec(
        "sim_random_projection",
        sim_random_projection,
        _jl_oracle(),
    )
)


# ---------------------------------------------------------------------------
# sim_hard_negatives — contrastive-training hard-negative mining
# ---------------------------------------------------------------------------

HN_NEGS = 3  # hard negatives per query


def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive embedding training: for
    each query, the top different-label neighbors by cosine (the
    negatives the model currently confuses most) together with the
    best same-label positive's similarity and the margin — a
    violated margin (negative outranking the positive) is exactly
    the triplet a trainer wants in the next batch. This is the
    training-data complement of `sim_topk_filtered` (which retrieves
    the positives).

    One scored pass (broadcast query batch over a single corpus
    scan, persisted), then a per-query MAX for the positive side and
    a per-query rank window for the negative side — both partitioned
    by query_id, no second corpus scan, no cross join."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    corpus = spread(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("label").alias("nlabel"),
    )
    # (b) scans 2 -> 3 without it
    scored = persist(
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "qlabel",
            "neighbor_id",
            "nlabel",
            F.round(_dot(F.col("qe"), F.col("ne")), 6).alias("sim"),
        )
    )
    pos = (
        scored.filter(F.col("nlabel") == F.col("qlabel"))
        .groupBy("query_id")
        .agg(F.max("sim").alias("pos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    negs = (
        scored.filter(F.col("nlabel") != F.col("qlabel"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= HN_NEGS)
    )
    return negs.join(F.broadcast(pos), "query_id").select(
        "query_id",
        "rank",
        "neighbor_id",
        F.col("nlabel").cast("bigint").alias("neg_label"),
        F.col("sim").alias("neg_sim"),
        "pos_sim",
        F.round(F.col("pos_sim") - F.col("sim"), 6).alias("margin"),
        (F.col("sim") >= F.col("pos_sim")).cast("int").alias("violation"),
    )


def _hard_neg_oracle() -> str:
    return f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
    SELECT q.query_id, q.qlabel, c.vec_id AS neighbor_id, c.label AS nlabel,
           round(list_dot_product(q.qe::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
    FROM q JOIN embeddings c ON q.query_id <> c.vec_id
),
pos AS (
    SELECT query_id, MAX(sim) AS pos_sim FROM scored
    WHERE nlabel = qlabel GROUP BY query_id
),
negs AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
    FROM scored WHERE nlabel <> qlabel
)
SELECT n.query_id, n.rank, n.neighbor_id,
       CAST(n.nlabel AS BIGINT) AS neg_label,
       n.sim AS neg_sim,
       p.pos_sim,
       round(p.pos_sim - n.sim, 6) AS margin,
       CAST(n.sim >= p.pos_sim AS INTEGER) AS violation
FROM negs n JOIN pos p USING (query_id)
WHERE n.rank <= {HN_NEGS}
"""


SPECS.append(
    QuerySpec(
        "sim_hard_negatives",
        sim_hard_negatives,
        _hard_neg_oracle(),
    )
)


# ---------------------------------------------------------------------------
# sim_ann_recall_matrix — every ANN variant judged against exact top-k
# ---------------------------------------------------------------------------


def sim_ann_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall matrix for the ANN family: each approximate method's
    (query, neighbor) pairs judged against the exact brute-force
    top-k, in ONE registered query — the in-engine eval that keeps
    'is the index still good?' answerable after every re-tune,
    instead of a number in a doc. Expected values on the fixture's
    deterministic toy codebooks are LOW by design (the methods'
    docstrings say so); the point is the measurement being part of
    the engine's oracled surface.

    Shape: the exact pair set is computed once (its readers share
    its exchanges); each method contributes a distinct-pair semi-join
    + one-row counts. All relations are (queries × k)-sized —
    evaluation never touches the corpus beyond what the methods
    themselves do."""
    exact = sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id").distinct()
    methods = [
        ("ivf_flat", sim_ivf_flat),
        ("ivfpq", sim_ivfpq),
        ("lsh", sim_lsh_ann),
        ("pq_rerank", sim_pq_rerank),
    ]
    out = None
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    for name, fn in methods:
        got = fn(spark, sf_dir).select("query_id", "neighbor_id").distinct()
        hits = got.join(exact, ["query_id", "neighbor_id"], "left_semi")
        row = (
            got.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
            .crossJoin(hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits")))
            .select(F.lit(name).alias("method"), "n_pairs", "n_hits")
        )
        out = row if out is None else out.unionByName(row)
    return (
        out.crossJoin(n_exact)
        .select(
            "method",
            "n_pairs",
            "n_hits",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.expr("n_hits * 1000 div n_exact").alias("recall_permille"),
        )
        .orderBy("method")
    )


def _recall_matrix_oracle() -> str:
    legs = {
        "ivf_flat": SIM_IVF_FLAT_ORACLE,
        "ivfpq": SIM_IVFPQ_ORACLE,
        "lsh": _lsh_oracle(),
        "pq_rerank": _pq_rerank_oracle(),
    }
    ctes = [
        "exact AS MATERIALIZED (SELECT DISTINCT query_id, neighbor_id FROM ("
        + SIM_TOPK_BRUTEFORCE_ORACLE
        + "))"
    ]
    selects = []
    for name, sql in legs.items():
        ctes.append(
            f"m_{name} AS MATERIALIZED (SELECT DISTINCT query_id, neighbor_id FROM ({sql}))"
        )
        selects.append(f"""
SELECT '{name}' AS method,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM m_{name}) AS n_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM m_{name} JOIN exact USING (query_id, neighbor_id)) AS n_hits,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
       CAST((SELECT COUNT(*) FROM m_{name} JOIN exact USING (query_id, neighbor_id))
            * 1000 // (SELECT COUNT(*) FROM exact) AS BIGINT) AS recall_permille
""".strip())
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY method"


SPECS.append(
    QuerySpec(
        "sim_ann_recall_matrix",
        sim_ann_recall_matrix,
        _recall_matrix_oracle(),
    )
)
