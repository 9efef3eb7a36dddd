"""documents → training-batch manifest: the "make batches" half of
the pretraining data path (the upstream "clean the corpus" half is
``plans/corpus_prep.py``). One declarative plan composes:

1. quality gate      — row-local predicates, fused into the scan
2. exact dedup       — canonical-text hash groupBy (one shuffle)
3. tokenize          — BPE-chunk proxy count (`text_tokens` leg)
4. sequence packing  — per-SOURCE longest-first next-fit bins
                       (`wf_pack_sequences` geometry: no global sort)
5. shard assignment  — deterministic content hash of (source, bin)
                       (`wf_shuffle_shard` rule)

and emits the per-shard manifest a training job consumes: bin/doc/
token counts plus an order-free doc-id checksum so two independent
runs (or two engines) can prove they built the SAME batches. The
whole dataflow is SQL-expressible, so the DuckDB oracle checks the
PIPELINE end to end, not just its legs.

Scale posture: stages 1-3 are narrow maps fused into the scan; the
only shuffles are the dedup hash agg, the per-source packing window
(source-partitioned — never a single reducer), and the final
shard-sized manifest agg. Every hash is the shared cross-engine h32.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators._helpers import h32
from ..spec import QuerySpec

PB_MIN_TOKENS = 20      # quality floor: whitespace tokens
PB_MAX_WORD_LEN = 12    # quality ceiling: mean word length (chars)
PB_BUDGET = 256         # BPE-chunk tokens per packed sequence bin
PB_SHARDS = 8           # training shards


def _stages(spark: SparkSession, sf_dir: str):
    """The pipeline's stage relations (see module docstring): raw
    docs, gated, deduped, and packed docs carrying their ``bin_id``
    and ``shard_id``."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")

    # 1. quality gate: row-local, fused into the scan
    n_ws = F.size(F.split("text", " "))
    mean_word = (F.length("text") - n_ws + 1) / n_ws  # chars per token
    gated = docs.filter((n_ws >= PB_MIN_TOKENS) & (mean_word <= PB_MAX_WORD_LEN))

    # 2. exact dedup on canonical text (keep min doc_id per content)
    canon = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    w_dup = Window.partitionBy(h32(canon)).orderBy("doc_id")
    deduped = (
        gated.withColumn("rk", F.row_number().over(w_dup))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )

    # 3. tokenize: BPE-chunk proxy (the `text_tokens` counting leg)
    toks = deduped.select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), 0))
        .cast("bigint")
        .alias("n_tok"),
    )

    # 4. per-source longest-first next-fit packing (no global sort)
    w_pack = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_tok"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn("cum", F.sum("n_tok").over(w_pack)).withColumn(
        "bin_id", F.expr(f"(cum - n_tok) div {PB_BUDGET}")
    )

    # 5. deterministic shard of each (source, bin)
    shard = (h32(F.concat_ws(":", F.col("source"), F.col("bin_id"))) % PB_SHARDS).cast(
        "int"
    )
    return docs, gated, deduped, packed.withColumn("shard_id", shard)


def pipeline_pretrain_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → quality gate → exact dedup → tokenize → pack →
    shard → per-shard manifest (see module docstring)."""
    *_, packed = _stages(spark, sf_dir)
    return (
        packed.groupBy("shard_id")
        .agg(
            F.countDistinct("source", "bin_id").cast("bigint").alias("n_bins"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum(h32(F.col("doc_id").cast("string"))).cast("bigint").alias("docs_checksum"),
        )
        .orderBy("shard_id")
    )


PIPELINE_PRETRAIN_BATCHES_ORACLE = f"""
WITH gated AS (
    SELECT doc_id, source, text,
           len(string_split(text, ' ')) AS n_ws
    FROM documents
    WHERE len(string_split(text, ' ')) >= {PB_MIN_TOKENS}
      AND (length(text) - len(string_split(text, ' ')) + 1)
          / len(string_split(text, ' ')) <= {PB_MAX_WORD_LEN}
),
deduped AS (
    SELECT doc_id, source, text
    FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (
                   PARTITION BY ('0x' || substring(md5(
                       lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                   ), 1, 8))::BIGINT
                   ORDER BY doc_id) AS rk
        FROM gated
    ) WHERE rk = 1
),
toks AS (
    SELECT doc_id, source,
           CAST(len(regexp_extract_all(text, '[a-z]{{1,4}}')) AS BIGINT) AS n_tok
    FROM deduped
),
packed AS (
    SELECT doc_id, source, n_tok,
           CAST((SUM(n_tok) OVER (PARTITION BY source
                                  ORDER BY n_tok DESC, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tok) // {PB_BUDGET} AS BIGINT) AS bin_id
    FROM toks
),
sharded AS (
    SELECT *,
           CAST(('0x' || substring(md5(source || ':' || CAST(bin_id AS VARCHAR)),
                                   1, 8))::BIGINT % {PB_SHARDS} AS INTEGER) AS shard_id
    FROM packed
)
SELECT shard_id,
       CAST(COUNT(DISTINCT (source, bin_id)) AS BIGINT) AS n_bins,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
            AS BIGINT) AS docs_checksum
FROM sharded
GROUP BY shard_id
ORDER BY shard_id
"""

SPECS = [
    QuerySpec(
        "pipeline_pretrain_batches",
        pipeline_pretrain_batches,
        PIPELINE_PRETRAIN_BATCHES_ORACLE,
    )
]


# ---------------------------------------------------------------------------
# wf_provenance_chain — chained lineage manifest over the pipeline stages
# ---------------------------------------------------------------------------


def wf_provenance_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROVENANCE chain for the pretrain-batches pipeline: one
    manifest row per stage (raw → gated → deduped → packed → sharded)
    carrying the stage's row count, an order-free content checksum,
    and a CHAINED hash — each stage's chain value hashes the previous
    stage's chain with this stage's checksum, so two runs (or two
    engines) agree on the final link iff they agree on EVERY stage.
    This is the reproducibility receipt a training-data audit wants:
    a single value that certifies the whole derivation, with the
    per-stage rows to localize any break.

    All stage aggregates are one-row reductions; the chain is five
    nested h32 applications on those scalars (no iteration, no
    driver state)."""
    docs, gated, deduped, packed = _stages(spark, sf_dir)
    sharded = packed.groupBy("shard_id").agg(F.sum("n_tok").alias("n_tokens"))

    def doc_stage(df):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(h32(F.col("doc_id").cast("string"))).cast("bigint").alias("ck"),
        )

    bins_stage = (
        packed.select("source", "bin_id")
        .distinct()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(h32(F.concat_ws(":", "source", "bin_id"))).cast("bigint").alias("ck"),
        )
    )
    shard_stage = sharded.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(h32(F.concat_ws(":", "shard_id", "n_tokens"))).cast("bigint").alias("ck"),
    )
    one = (
        doc_stage(docs).select(F.col("n").alias("n1"), F.col("ck").alias("k1"))
        .crossJoin(doc_stage(gated).select(F.col("n").alias("n2"), F.col("ck").alias("k2")))
        .crossJoin(doc_stage(deduped).select(F.col("n").alias("n3"), F.col("ck").alias("k3")))
        .crossJoin(bins_stage.select(F.col("n").alias("n4"), F.col("ck").alias("k4")))
        .crossJoin(shard_stage.select(F.col("n").alias("n5"), F.col("ck").alias("k5")))
    )
    c1 = h32(F.concat_ws(":", F.lit("prov"), F.col("k1")))
    c2 = h32(F.concat_ws(":", c1, F.col("k2")))
    c3 = h32(F.concat_ws(":", c2, F.col("k3")))
    c4 = h32(F.concat_ws(":", c3, F.col("k4")))
    c5 = h32(F.concat_ws(":", c4, F.col("k5")))
    chained = one.select(
        "n1", "n2", "n3", "n4", "n5", "k1", "k2", "k3", "k4", "k5",
        c1.alias("c1"), c2.alias("c2"), c3.alias("c3"), c4.alias("c4"), c5.alias("c5"),
    )
    return chained.selectExpr(
        "stack(5, "
        "'1_raw', n1, k1, c1, "
        "'2_gated', n2, k2, c2, "
        "'3_deduped', n3, k3, c3, "
        "'4_packed', n4, k4, c4, "
        "'5_sharded', n5, k5, c5"
        ") AS (stage, n_rows, checksum, chain_hash)"
    )


_H = "('0x' || substring(md5({x}), 1, 8))::BIGINT"
_H_CANON = _H.format(
    x="lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
)

WF_PROVENANCE_CHAIN_ORACLE = f"""
WITH gated AS MATERIALIZED (
    SELECT doc_id, source, text FROM documents
    WHERE len(string_split(text, ' ')) >= {PB_MIN_TOKENS}
      AND (length(text) - len(string_split(text, ' ')) + 1)
          / len(string_split(text, ' ')) <= {PB_MAX_WORD_LEN}
),
deduped AS MATERIALIZED (
    SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (
                   PARTITION BY {_H_CANON}
                   ORDER BY doc_id) AS rk
        FROM gated
    ) WHERE rk = 1
),
toks AS MATERIALIZED (
    SELECT doc_id, source,
           CAST(len(regexp_extract_all(text, '[a-z]{{1,4}}')) AS BIGINT) AS n_tok
    FROM deduped
),
packed AS MATERIALIZED (
    SELECT doc_id, source, n_tok,
           CAST((SUM(n_tok) OVER (PARTITION BY source
                                  ORDER BY n_tok DESC, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tok) // {PB_BUDGET} AS BIGINT) AS bin_id
    FROM toks
),
sharded AS MATERIALIZED (
    SELECT CAST({_H.format(x="source || ':' || CAST(bin_id AS VARCHAR)")} % {PB_SHARDS}
               AS INTEGER) AS shard_id,
           SUM(n_tok) AS n_tokens
    FROM packed GROUP BY 1
),
s1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM({_H.format(x='CAST(doc_id AS VARCHAR)')}) AS BIGINT) AS k
       FROM documents),
s2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM({_H.format(x='CAST(doc_id AS VARCHAR)')}) AS BIGINT) AS k
       FROM gated),
s3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM({_H.format(x='CAST(doc_id AS VARCHAR)')}) AS BIGINT) AS k
       FROM deduped),
s4 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM({_H.format(x="source || ':' || CAST(bin_id AS VARCHAR)")}) AS BIGINT) AS k
       FROM (SELECT DISTINCT source, bin_id FROM packed)),
s5 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM({_H.format(x="CAST(shard_id AS VARCHAR) || ':' || CAST(n_tokens AS VARCHAR)")}) AS BIGINT) AS k
       FROM sharded),
chain AS (
    SELECT s1.n AS n1, s2.n AS n2, s3.n AS n3, s4.n AS n4, s5.n AS n5,
           s1.k AS k1, s2.k AS k2, s3.k AS k3, s4.k AS k4, s5.k AS k5,
           {_H.format(x="'prov' || ':' || CAST(s1.k AS VARCHAR)")} AS c1
    FROM s1, s2, s3, s4, s5
),
chain2 AS (
    SELECT *, {_H.format(x="CAST(c1 AS VARCHAR) || ':' || CAST(k2 AS VARCHAR)")} AS c2 FROM chain
),
chain3 AS (
    SELECT *, {_H.format(x="CAST(c2 AS VARCHAR) || ':' || CAST(k3 AS VARCHAR)")} AS c3 FROM chain2
),
chain4 AS (
    SELECT *, {_H.format(x="CAST(c3 AS VARCHAR) || ':' || CAST(k4 AS VARCHAR)")} AS c4 FROM chain3
),
chain5 AS (
    SELECT *, {_H.format(x="CAST(c4 AS VARCHAR) || ':' || CAST(k5 AS VARCHAR)")} AS c5 FROM chain4
)
SELECT stage, n_rows, checksum, chain_hash FROM (
    SELECT '1_raw' AS stage, n1 AS n_rows, k1 AS checksum, c1 AS chain_hash FROM chain5
    UNION ALL SELECT '2_gated', n2, k2, c2 FROM chain5
    UNION ALL SELECT '3_deduped', n3, k3, c3 FROM chain5
    UNION ALL SELECT '4_packed', n4, k4, c4 FROM chain5
    UNION ALL SELECT '5_sharded', n5, k5, c5 FROM chain5
)
"""

SPECS.append(
    QuerySpec(
        "wf_provenance_chain",
        wf_provenance_chain,
        WF_PROVENANCE_CHAIN_ORACLE,
    )
)
