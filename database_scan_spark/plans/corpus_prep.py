"""End-to-end training-corpus preparation pipeline — the north-star
workload this engine exists for (BASELINE.json): compose the quality
gate, exact dedup, near-dup removal, and token budgeting into ONE
declarative plan over the documents table.

Stage order follows the standard corpus-pipeline shape (C4/Gopher →
GPT-3-style dedup): cheap row-local filters first (prune before any
shuffle), exact dedup next (content-hash groupBy), expensive pairwise
near-dup last (runs on the smallest candidate set). Catalyst fuses
the row-local stages into the scan.

The whole composition is one SQL-expressible dataflow, so the DuckDB
oracle checks the PIPELINE, not just its pieces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.dedup import JACCARD_THRESHOLD
from ..spec import QuerySpec

MIN_TOKENS = 30
MIN_TTR = 0.30  # type-token ratio floor


def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → quality filter → exact dedup → near-dup drop →
    token-budget projection.

    Near-dup policy: connected-components clustering over the
    verified pairs (``plans/cc_clusters.py`` — iterative min-label
    fixed point); per cluster keep the lowest-id member that also
    survived the earlier stages. Transitively correct (a~b~c collapses
    to one survivor) AND loss-free: if a cluster's nominal minimum was
    already removed by the quality gate, the next surviving member is
    kept instead of the whole cluster vanishing. The oracle replicates
    the closure with a recursive CTE.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    # Stage 1 — row-local quality gate (fused into the scan).
    quality = docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.size(toks).cast("int").alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("ttr"),
    ).filter((F.col("n_tokens") >= MIN_TOKENS) & (F.col("ttr") >= MIN_TTR))

    # Stage 2 — exact dedup: keep lowest doc_id per content hash.
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact_kept = (
        quality.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )

    # Stage 3 — near-dup removal: CC clustering over verified pairs;
    # per cluster keep the lowest-id member THAT SURVIVED the earlier
    # stages. Choosing the global cluster minimum would silently drop
    # every copy of a document whose nominal survivor was already
    # removed by the quality gate / exact dedup.
    from .cc_clusters import dedup_cluster_cc  # noqa: PLC0415

    clusters = dedup_cluster_cc(spark, sf_dir)
    surviving_members = clusters.join(exact_kept.select("doc_id"), "doc_id")
    w_surv = Window.partitionBy("cluster_id").orderBy("doc_id")
    dups = (
        surviving_members.withColumn("rn", F.row_number().over(w_surv))
        .filter(F.col("rn") > 1)
        .select(F.col("doc_id").alias("dup_id"))
    )
    kept = exact_kept.join(
        dups, exact_kept.doc_id == dups.dup_id, "left_anti"
    )

    # Stage 4 — token-budget projection for the training mix.
    return kept.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        F.round("ttr", 6).alias("ttr"),
        F.ceil(F.col("n_tokens") * 1.3).cast("bigint").alias("est_llm_tokens"),
    )


def _oracle() -> str:
    return f"""
WITH RECURSIVE toks AS (
    SELECT doc_id, text, lang, source, string_split(text, ' ') AS t FROM documents
),
quality AS (
    SELECT doc_id, text, lang, source,
           CAST(len(t) AS INTEGER) AS n_tokens,
           len(list_distinct(t)) * 1.0 / len(t) AS ttr
    FROM toks
    WHERE len(t) >= {MIN_TOKENS} AND len(list_distinct(t)) * 1.0 / len(t) >= {MIN_TTR}
),
exact_kept AS (
    SELECT * FROM quality
    QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
sh AS (
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
),
labels AS (
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
),
surviving_members AS (
    SELECT l.doc_id, l.cluster_id
    FROM labels l JOIN exact_kept e ON l.doc_id = e.doc_id
),
dups AS (
    SELECT doc_id AS dup_id FROM surviving_members
    QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY doc_id) > 1
)
SELECT doc_id, lang, source, n_tokens,
       round(ttr, 6) AS ttr,
       CAST(ceil(n_tokens * 1.3) AS BIGINT) AS est_llm_tokens
FROM exact_kept
WHERE doc_id NOT IN (SELECT dup_id FROM dups)
"""


SPECS = [
    QuerySpec(
        "pipeline_corpus_prep",
        corpus_prep,
        _oracle(),
    ),
]
