"""pipeline_rag_retrieval — the RAG retrieval pipeline composed end to
end IN-ENGINE: chunk the corpus into overlapping token windows, embed
every chunk, embed the queries, score by dot product, return each
query's top passages. This is the read-side half of a
retrieval-augmented-generation stack (the write side — dedup, quality,
packing — is `pipeline_corpus_prep`), and the shape a 100 TB document
lake actually serves retrieval from before a vector index exists:
chunking and embedding are narrow row-local maps over the scan,
scoring is a broadcast of the tiny query set against the chunk table
(never a chunk-chunk cross join), and ranking is a per-query window.

The embedder is the engine's deterministic hash-projection stand-in
(`operators/multimodal._feature_extract_batches_fn` rationale): an
8-dim vector of md5-seeded projections of the chunk text — expressed
here as pure JVM expressions (no Python at all), with the DuckDB twin
building the identical 8-element list, so the whole
chunk→embed→score→rank pipeline hash-matches END TO END. Swapping in
a real encoder changes one projection expression for a pandas_udf —
the plan shape (scan-fused chunking, broadcast queries, windowed
top-k) is exactly what production keeps.

Queries are each query-doc's SECOND chunk, and the query chunk
itself is excluded from candidates so rank 1 is the nearest OTHER
passage. NOTE the honest scope: md5 projections are NOT locality-
sensitive, so this plan verifies the PIPELINE — chunk geometry,
embedding plumbing, broadcast scoring, deterministic ranking — not
semantic retrieval quality; the with-a-real-encoder property (rank 1
tends to be the query chunk's overlapping neighbor) needs an encoder
that maps similar text to nearby vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators._helpers import dot
from ..spec import QuerySpec

RAG_DIM = 8
RAG_TOP_K = 3
RAG_QUERY_MOD = 100  # doc_id % 100 == 7 -> query doc
CHUNK = 32
STRIDE = 24
MIN_TAIL = 8


def _embed(text_col: Column) -> Column:
    """8-dim md5-projection embedding as PURE JVM expressions: the
    i-th coordinate is the first 8 hex chars of md5(md5(text)||'_'||i)
    over 2^32 — exact dyadic rationals both engines agree on."""
    base = F.md5(text_col)
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(base, F.lit(f"_{i}"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                / F.lit(4294967296.0)
            )
            for i in range(RAG_DIM)
        ]
    )


def _chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                F.sequence(
                    F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(STRIDE)
                )
            ).alias("chunk_id", "chunk_start"),
            F.slice(toks, F.col("chunk_start") + 1, CHUNK).alias("chunk_toks"),
        )
        .filter(
            (F.size("chunk_toks") >= MIN_TAIL) | (F.col("chunk_start") == 0)
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.array_join("chunk_toks", " ").alias("chunk_text"),
        )
    )


def pipeline_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = _chunks(spark, sf_dir).withColumn("emb", _embed(F.col("chunk_text")))
    queries = (
        chunks.filter(
            (F.col("doc_id") % RAG_QUERY_MOD == 7) & (F.col("chunk_id") == 1)
        )
        .select(
            F.col("doc_id").alias("query_doc"),
            F.col("chunk_id").alias("query_chunk"),
            F.col("emb").alias("qe"),
        )
    )
    scored = (
        F.broadcast(queries)
        .join(
            chunks,
            ~(
                (F.col("doc_id") == F.col("query_doc"))
                & (F.col("chunk_id") == F.col("query_chunk"))
            ),
        )
        .withColumn("score", F.round(dot(F.col("qe"), F.col("emb")), 6))
    )
    w = Window.partitionBy("query_doc").orderBy(
        F.desc("score"), F.asc("doc_id"), F.asc("chunk_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= RAG_TOP_K)
        .select("query_doc", "rank", "doc_id", "chunk_id", "score")
        .orderBy("query_doc", "rank")
    )


def _rag_oracle() -> str:
    emb = ", ".join(
        f"(('0x' || substring(md5(md5(chunk_text) || '_{i}'), 1, 8))::BIGINT"
        f" / 4294967296.0)"
        for i in range(RAG_DIM)
    )
    return f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
s AS (
    SELECT doc_id, toks,
           unnest(generate_series(0, GREATEST(len(toks) - 1, 0), {STRIDE}))
             AS chunk_start
    FROM t
),
c AS (
    SELECT doc_id,
           CAST(chunk_start // {STRIDE} AS INTEGER) AS chunk_id,
           array_to_string(
               toks[chunk_start + 1 : chunk_start + {CHUNK}], ' ')
             AS chunk_text,
           len(toks[chunk_start + 1 : chunk_start + {CHUNK}]) AS n_toks,
           chunk_start
    FROM s
),
chunks AS MATERIALIZED (
    SELECT doc_id, chunk_id, chunk_text, [{emb}] AS emb
    FROM c WHERE n_toks >= {MIN_TAIL} OR chunk_start = 0
),
queries AS MATERIALIZED (
    SELECT doc_id AS query_doc, chunk_id AS query_chunk, emb AS qe
    FROM chunks WHERE doc_id % {RAG_QUERY_MOD} = 7 AND chunk_id = 1
),
scored AS (
    SELECT q.query_doc, ch.doc_id, ch.chunk_id,
           round(list_dot_product(q.qe, ch.emb), 6) AS score
    FROM queries q JOIN chunks ch
      ON NOT (ch.doc_id = q.query_doc AND ch.chunk_id = q.query_chunk)
)
SELECT query_doc, CAST(rn AS INTEGER) AS rank, doc_id, chunk_id, score
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_doc
        ORDER BY score DESC, doc_id, chunk_id) AS rn
    FROM scored
)
WHERE rn <= {RAG_TOP_K}
ORDER BY query_doc, rank
"""


SPECS = [
    QuerySpec(
        "pipeline_rag_retrieval",
        pipeline_rag_retrieval,
        _rag_oracle(),
    )
]
