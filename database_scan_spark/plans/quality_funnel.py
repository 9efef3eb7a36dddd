"""Corpus-quality FUNNEL report — the per-stage attrition table every
large-scale pretraining data pipeline publishes (C4, Gopher §A1,
RefinedWeb table 2, FineWeb's funnel chart): how many documents each
gate removes, in order, so the corpus owner can see which gate does
the work and which is dead weight.

Stages compose the engine's own registered gates (single source of
truth — the funnel can never disagree with the operators it reports
on):

    raw → Gopher rules kept (``text_gopher_rules``)
        → not in the worst CCNet perplexity tercile
          (``text_ccnet_perplexity`` bucket < 3)
        → exact-dedup survivor (keep-first content-hash rule,
          ``dq_dup_rate_by_source``'s keeper definition)

Scale posture: the per-doc flags are three already-bounded dataflows
joined on doc_id (one shuffle each at most; the Gopher gate is a
narrow projection), and the funnel itself is ONE aggregation over the
flag relation — counts only, no data movement wider than doc_id +
three booleans. The oracle composes the per-stage oracles verbatim as
nested CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.llm_prep import (
    TEXT_CCNET_PERPLEXITY_ORACLE,
    text_ccnet_perplexity,
)
from ..operators.text_analysis import TEXT_GOPHER_RULES_ORACLE, text_gopher_rules
from ..spec import QuerySpec

_STAGES = ("raw", "gopher_rules", "ccnet_not_tail", "exact_dedup")


def pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per funnel stage: docs surviving up to and including
    that stage, docs dropped BY that stage, and the stage's drop rate
    in permille of its input (exact integer arithmetic)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    gopher = text_gopher_rules(spark, sf_dir).select("doc_id", "kept")
    ccnet = text_ccnet_perplexity(spark, sf_dir).select("doc_id", "ccnet_bucket")
    keeper = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("keeper_id"))
        .select(F.col("keeper_id").alias("doc_id"), F.lit(1).alias("is_keeper"))
    )
    # ccnet joins LEFT: it emits only docs with >=1 non-empty token, and
    # the raw stage must count EVERY document (a token-less doc has no
    # perplexity — treat it as tail, which the Gopher gate has already
    # dropped anyway). gopher is a total one-row-per-doc projection over
    # documents, so it IS the doc_id spine — the former
    # docs.select("doc_id").join(gopher) was a full self-join of the
    # documents scan just to reattach rows it already had (optimization
    # r10, guide §2.4: remove shuffles outright).
    flags = (
        gopher
        .join(ccnet, "doc_id", "left")
        .join(keeper, "doc_id", "left")
        .select(
            "doc_id",
            F.col("kept").alias("f1"),
            F.coalesce((F.col("ccnet_bucket") < 3).cast("int"), F.lit(0)).alias(
                "f2"
            ),
            F.coalesce(F.col("is_keeper"), F.lit(0)).alias("f3"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("f1").alias("n1"),
        F.sum(F.col("f1") * F.col("f2")).alias("n2"),
        F.sum(F.col("f1") * F.col("f2") * F.col("f3")).alias("n3"),
    )
    stage_rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col(f"n{max(i - 1, 0)}").cast("long").alias("docs_in"),
                F.col(f"n{i}").cast("long").alias("docs_out"),
            )
            for i, name in enumerate(_STAGES)
        ]
    )
    return (
        agg.select(F.explode(stage_rows).alias("s"))
        .select(
            F.col("s.stage_idx").cast("int").alias("stage_idx"),
            F.col("s.stage").alias("stage"),
            F.col("s.docs_in").alias("docs_in"),
            F.col("s.docs_out").alias("docs_out"),
        )
        .withColumn(
            # explicit NULL when a stage's input is empty (a gate that
            # drops every doc at some SF): Spark's / would yield NULL
            # silently but DuckDB's // raises div-by-zero, so BOTH
            # sides guard identically (ADVICE r3).
            "drop_permille",
            F.when(F.col("docs_in") == 0, F.lit(None))
            .otherwise(
                (F.col("docs_in") - F.col("docs_out")) * 1000 / F.col("docs_in")
            )
            .cast("long"),
        )
    )


PIPELINE_QUALITY_FUNNEL_ORACLE = f"""
WITH gopher AS (SELECT doc_id, kept FROM ({TEXT_GOPHER_RULES_ORACLE})),
ccnet AS (SELECT doc_id, ccnet_bucket FROM ({TEXT_CCNET_PERPLEXITY_ORACLE})),
keeper AS (
    SELECT min(doc_id) AS doc_id, 1 AS is_keeper FROM documents GROUP BY text
),
flags AS (
    -- ccnet LEFT-joined: token-less docs have no perplexity row and
    -- must still be counted in the raw stage (f2 defaults to 0)
    SELECT d.doc_id, g.kept AS f1,
           CASE WHEN c.ccnet_bucket < 3 THEN 1 ELSE 0 END AS f2,
           COALESCE(k.is_keeper, 0) AS f3
    FROM documents d
    JOIN gopher g USING (doc_id)
    LEFT JOIN ccnet c USING (doc_id)
    LEFT JOIN keeper k USING (doc_id)
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n0,
           CAST(sum(f1) AS BIGINT) AS n1,
           CAST(sum(f1 * f2) AS BIGINT) AS n2,
           CAST(sum(f1 * f2 * f3) AS BIGINT) AS n3
    FROM flags
),
stages AS (
    SELECT 0 AS stage_idx, 'raw' AS stage, n0 AS docs_in, n0 AS docs_out FROM agg
    UNION ALL
    SELECT 1, 'gopher_rules', n0, n1 FROM agg
    UNION ALL
    SELECT 2, 'ccnet_not_tail', n1, n2 FROM agg
    UNION ALL
    SELECT 3, 'exact_dedup', n2, n3 FROM agg
)
SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage, docs_in, docs_out,
       CAST(CASE WHEN docs_in = 0 THEN NULL
                 ELSE (docs_in - docs_out) * 1000 // docs_in END AS BIGINT) AS drop_permille
FROM stages
"""

SPECS = [
    QuerySpec(
        "pipeline_quality_funnel",
        pipeline_quality_funnel,
        PIPELINE_QUALITY_FUNNEL_ORACLE,
    )
]
