"""pipeline_incremental_ingest — the PRODUCTION daily-ingest path,
composed end to end: today's arrivals → row-local quality gate →
near-dup rejection against the standing corpus index → accepted-doc
manifest with token accounting.

`pipeline_corpus_prep` is the one-time batch curation of a full
corpus; THIS plan is what runs every day afterwards. Work per day is
O(batch × collision rate): the standing MinHash band index
(materialized by `dedup_incremental_minhash`, parquet) is probed by
the batch's bands only — the historical corpus is never re-scanned.

Near-dup policy (deterministic, exactly oracle-able without
recursion):
  - a batch doc matching ANY base (pre-existing) doc is rejected —
    the content is already in the corpus;
  - within the batch, the HIGHER-id member of any verified pair is
    rejected (keep-first). This is a depth-1 rule: an intra-batch
    chain a~b~c keeps a, drops b and c. Deeper chains whose survivor
    later proves to be a duplicate resolve on the NEXT day's run,
    when today's accepted docs have joined the index — the rolling
    property that makes the daily shape self-correcting.

Reference lineage: the reference's resume mode re-reads yesterday's
CSV and skips known ids (`/root/reference/x2.2.py:249-256`) — this is
that idea generalized from exact-id skip to content-level dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators._helpers import h32
from ..operators.dedup import _DELTA_MOD, dedup_incremental_minhash, _SQL_H32
from ..spec import QuerySpec
from .corpus_prep import MIN_TOKENS, MIN_TTR


def pipeline_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    is_delta = h32(F.col("doc_id").cast("string")) % _DELTA_MOD == 0
    toks = F.split("text", " ")

    # Stage 1 — today's arrivals, quality-gated row-locally (fused
    # into the scan; same thresholds as the batch curation plan).
    batch = (
        docs.filter(is_delta)
        .select(
            "doc_id",
            "lang",
            "source",
            F.size(toks).cast("int").alias("n_tokens"),
            (F.size(F.array_distinct(toks)) / F.size(toks)).alias("ttr"),
        )
        .filter((F.col("n_tokens") >= MIN_TOKENS) & (F.col("ttr") >= MIN_TTR))
    )

    # Stage 2 — verified near-dup pairs with >=1 batch member, from
    # the standing-index probe (the only stage that touches state).
    pairs = dedup_incremental_minhash(spark, sf_dir).select("doc_a", "doc_b")
    a_delta = h32(F.col("doc_a").cast("string")) % _DELTA_MOD == 0
    b_delta = h32(F.col("doc_b").cast("string")) % _DELTA_MOD == 0
    # batch member paired with a BASE doc -> rejected
    base_hit = (
        pairs.filter(a_delta & ~b_delta).select(F.col("doc_a").alias("doc_id"))
        .unionByName(
            pairs.filter(b_delta & ~a_delta).select(F.col("doc_b").alias("doc_id"))
        )
        .dropDuplicates(["doc_id"])
    )
    # within-batch pair -> higher id rejected (keep-first, depth-1)
    intra_drop = (
        pairs.filter(a_delta & b_delta)
        .select(F.col("doc_b").alias("doc_id"))
        .dropDuplicates(["doc_id"])
    )

    accepted = batch.join(base_hit, "doc_id", "left_anti").join(
        intra_drop, "doc_id", "left_anti"
    )

    # Stage 3 — the ingest manifest: per-source acceptance accounting
    # plus the accepted docs' token budget (what the training mix
    # actually gains today).
    return accepted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_accepted"),
        F.sum(F.col("n_tokens").cast("bigint")).alias("sum_tokens"),
        F.sum(F.ceil(F.col("n_tokens") * 1.3).cast("bigint")).alias("est_llm_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _oracle() -> str:
    from ..operators.dedup import _incremental_minhash_oracle  # noqa: PLC0415

    delta = _SQL_H32.format(expr="CAST({c} AS VARCHAR)") + f" % {_DELTA_MOD} = 0"
    return f"""
WITH pairs AS (
    SELECT doc_a, doc_b FROM ({_incremental_minhash_oracle()})
),
batch AS (
    SELECT doc_id, lang, source,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')) AS ttr
    FROM documents
    WHERE ({delta.format(c='doc_id')})
),
gated AS (
    SELECT * FROM batch WHERE n_tokens >= {MIN_TOKENS} AND ttr >= {MIN_TTR}
),
base_hit AS (
    SELECT doc_a AS doc_id FROM pairs
    WHERE ({delta.format(c='doc_a')}) AND NOT ({delta.format(c='doc_b')})
    UNION
    SELECT doc_b AS doc_id FROM pairs
    WHERE ({delta.format(c='doc_b')}) AND NOT ({delta.format(c='doc_a')})
),
intra_drop AS (
    SELECT DISTINCT doc_b AS doc_id FROM pairs
    WHERE ({delta.format(c='doc_a')}) AND ({delta.format(c='doc_b')})
),
accepted AS (
    SELECT g.* FROM gated g
    WHERE g.doc_id NOT IN (SELECT doc_id FROM base_hit)
      AND g.doc_id NOT IN (SELECT doc_id FROM intra_drop)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_accepted,
       CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS sum_tokens,
       CAST(SUM(CAST(ceil(n_tokens * 1.3) AS BIGINT)) AS BIGINT) AS est_llm_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM accepted GROUP BY source
"""


SPECS = [
    QuerySpec(
        "pipeline_incremental_ingest",
        pipeline_incremental_ingest,
        _oracle(),
    ),
]
