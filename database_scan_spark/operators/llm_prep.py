"""LLM training-data preparation operators beyond the dedup/quality
surface: overlapping token-window chunking, per-source mixture
sampling, corpus n-gram vocabulary, and forward-fill imputation.

All pure JVM expressions (split/slice/sequence/window) — whole-stage
codegen end to end, each with a DuckDB oracle twin. These are the
"shape text into training sequences" counterparts to the reference's
scan→filter→dedup dataflow (candidate_drugs.py:84-158): narrow
per-row maps plus one hash aggregation, so the plans scale linearly
with corpus size and shuffle only where an aggregation demands it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import persist
from ..spec import QuerySpec
from ._helpers import h32, spread

# Chunking geometry: windows of CHUNK whitespace tokens starting every
# STRIDE tokens (CHUNK-STRIDE token overlap), runt tail chunks dropped
# unless they are the document's only chunk.
CHUNK = 32
STRIDE = 24
MIN_TAIL = 8


def wf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking of documents into training
    sequences. Narrow op: split → sequence of starts → posexplode →
    slice; no shuffle at any scale (chunk rows stay co-located with
    their source document partition)."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split("text", " ")
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(STRIDE))
        ).alias("chunk_id", "chunk_start"),
        F.slice(toks, F.col("chunk_start") + 1, CHUNK).alias("chunk_toks"),
    )
    return (
        chunks.withColumn("n_chunk_tokens", F.size("chunk_toks").cast("int"))
        .filter((F.col("n_chunk_tokens") >= MIN_TAIL) | (F.col("chunk_start") == 0))
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.col("chunk_start").cast("int").alias("chunk_start"),
            "n_chunk_tokens",
            F.array_join("chunk_toks", " ").alias("chunk_text"),
        )
    )


WF_CHUNK_DOCUMENTS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
    SELECT doc_id, toks,
           unnest(generate_series(0, GREATEST(len(toks) - 1, 0), {STRIDE})) AS chunk_start
    FROM t
), c AS (
    SELECT doc_id, chunk_start,
           toks[chunk_start + 1 : chunk_start + {CHUNK}] AS chunk_toks
    FROM s
)
SELECT doc_id,
       CAST(chunk_start // {STRIDE} AS INTEGER) AS chunk_id,
       CAST(chunk_start AS INTEGER) AS chunk_start,
       CAST(len(chunk_toks) AS INTEGER) AS n_chunk_tokens,
       array_to_string(chunk_toks, ' ') AS chunk_text
FROM c
WHERE len(chunk_toks) >= {MIN_TAIL} OR chunk_start = 0
"""


def wf_data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture sampling for training-set composition:
    each source gets a deterministic keep-rate (basis points derived
    from its numeric suffix), membership decided by the shared
    cross-engine hash — the distributed analog of weighted dataset
    mixing. Returns the per-source audit (in/kept/token budget).
    One hash aggregation; the sample predicate itself is narrow and
    would push straight onto a 100 TB scan."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    rate_bp = F.lit(10000) - F.lit(450) * F.regexp_extract("source", "(\\d+)", 1).cast(
        "int"
    )
    kept = (h32(F.concat_ws(":", F.col("doc_id"), F.lit("mix"))) % 10000) < rate_bp
    n_tok = F.size(F.split("text", " "))
    return (
        docs.select(
            "source",
            rate_bp.alias("rate_bp"),
            kept.cast("int").alias("k"),
            n_tok.alias("n_tok"),
        )
        .groupBy("source", "rate_bp")
        .agg(
            F.count(F.lit(1)).alias("n_in"),
            F.sum("k").alias("n_kept"),
            F.sum(F.col("k") * F.col("n_tok")).alias("tokens_kept"),
        )
        .select(
            "source",
            F.col("rate_bp").cast("int").alias("rate_bp"),
            F.col("n_in").cast("long").alias("n_in"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.col("tokens_kept").cast("long").alias("tokens_kept"),
        )
    )


WF_DATA_MIXTURE_ORACLE = """
WITH d AS (
    SELECT source,
           10000 - 450 * CAST(regexp_extract(source, '(\\d+)', 1) AS INTEGER) AS rate_bp,
           CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || 'mix'), 1, 8))::BIGINT % 10000
                     < 10000 - 450 * CAST(regexp_extract(source, '(\\d+)', 1) AS INTEGER)
                THEN 1 ELSE 0 END AS k,
           len(string_split(text, ' ')) AS n_tok
    FROM documents
)
SELECT source,
       CAST(rate_bp AS INTEGER) AS rate_bp,
       CAST(COUNT(*) AS BIGINT) AS n_in,
       CAST(SUM(k) AS BIGINT) AS n_kept,
       CAST(SUM(k * n_tok) AS BIGINT) AS tokens_kept
FROM d
GROUP BY source, rate_bp
"""


def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-5 bigrams per language by frequency
    (count desc, bigram asc — explicit total order per SURVEY §1.4).
    explode → hash-agg → per-group top-k window; the single shuffle
    is the bigram count, map-side combined."""
    docs = (
        spread(load(spark, sf_dir, "documents").select("lang", "text"))
        .withColumn("toks", F.split("text", " "))
        # guard BEFORE sequence(): Spark's sequence(1, 0) counts DOWN
        # ([1, 0]) instead of returning empty, and element_at(toks, 0)
        # would then throw.
        .filter(F.size("toks") >= 2)
    )
    grams = docs.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            )
        ).alias("bigram"),
    )
    counts = grams.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "bigram", F.col("cnt").cast("long").alias("cnt"), F.col("rank").cast("int").alias("rank"))
    )


TEXT_NGRAM_TOPK_ORACLE = """
WITH t AS (
    SELECT lang, string_split(text, ' ') AS toks FROM documents
), g AS (
    SELECT lang,
           unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM t
    WHERE len(toks) >= 2
), c AS (
    SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY lang, bigram
)
SELECT lang, bigram, cnt, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rn FROM c)
WHERE rn <= 5
"""


def win_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill imputation: treat `value` as observed only on
    purchase/view events and carry the last observation forward per
    user (ts, event_id total order). One shuffle on user_id; the
    running `last(ignorenulls)` is a streaming frame — no buffering
    of the partition."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    observed = F.when(F.col("event_type").isin("purchase", "view"), F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        observed.alias("observed"),
        F.last(observed, ignorenulls=True).over(w).alias("filled"),
    )


WIN_FORWARD_FILL_ORACLE = """
SELECT user_id, event_id, ts,
       CASE WHEN event_type IN ('purchase', 'view') THEN value END AS observed,
       last_value(CASE WHEN event_type IN ('purchase', 'view') THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM events
"""


SPECS = [
    QuerySpec(
        name="wf_chunk_documents",
        fn=wf_chunk_documents,
        oracle=WF_CHUNK_DOCUMENTS_ORACLE,
    ),
    QuerySpec(
        name="wf_data_mixture",
        fn=wf_data_mixture,
        oracle=WF_DATA_MIXTURE_ORACLE,
    ),
    QuerySpec(
        name="text_ngram_topk",
        fn=text_ngram_topk,
        oracle=TEXT_NGRAM_TOPK_ORACLE,
    ),
    QuerySpec(
        name="win_forward_fill",
        fn=win_forward_fill,
        oracle=WIN_FORWARD_FILL_ORACLE,
    ),
]


# ---------------------------------------------------------------------------
# EWMA smoothing — alpha = 1/2 so every weight is a power of two:
# multiplication by 2^-j and the weight sums are EXACT in IEEE 754,
# and the single num/den division is the only rounding step. Both
# engines evaluate the identical left-associative expression text, so
# the doubles hash-match bit for bit.
# ---------------------------------------------------------------------------
EWMA_TERMS = 8
_EWMA_OVER = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"


def _ewma_exprs() -> tuple[str, str]:
    nums, dens = [], []
    for j in range(EWMA_TERMS):
        w = repr(2.0**-j)  # exact decimal literal for a power of two
        lagged = f"lag(value, {j}) {_EWMA_OVER}" if j else "value"
        nums.append(f"coalesce({lagged}, 0.0) * {w}")
        dens.append(f"(CASE WHEN {lagged} IS NOT NULL THEN {w} ELSE 0.0 END)")
    return " + ".join(nums), " + ".join(dens)


def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=1/2, truncated to
    8 terms) of event values per user. One shuffle on user_id; the
    lag frame is streaming — no partition buffering."""
    num, den = _ewma_exprs()
    return (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .withColumn("ewma", F.expr(f"({num}) / ({den})"))
    )


def _ewma_oracle() -> str:
    num, den = _ewma_exprs()
    return f"""
SELECT user_id, event_id, ts, value, ({num}) / ({den}) AS ewma
FROM events
"""


# ---------------------------------------------------------------------------
# Unigram surprisal quality score — the KenLM-perplexity stand-in.
# Quantized to integer bits (floor(log2)) via binary-string length, so
# the per-token surprisal and its per-document sum are exact integers
# in both engines; only the final average divides.
# ---------------------------------------------------------------------------


def text_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram surprisal: bits(token) = floor(log2 N) -
    floor(log2 count(token)) over the corpus unigram table, summed per
    document. The corpus language-model pass is one explode + hash-agg;
    scoring is a join of exploded tokens against the vocabulary (hash
    join — the vocabulary may exceed broadcast size at 100 TB) and one
    per-doc aggregation."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    bits = F.length(F.bin(F.col("n_total"))) - F.length(F.bin(F.col("cnt")))
    scored = (
        toks.join(vocab, "token")
        .crossJoin(total)
        .select("doc_id", bits.cast("long").alias("bits"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("bits").alias("total_bits"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("total_bits").cast("long").alias("total_bits"),
            F.round(F.col("total_bits") / F.col("n_tokens"), 6).alias("avg_bits"),
        )
    )


TEXT_SURPRISAL_ORACLE = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), vocab AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token
), total AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM toks
), scored AS (
    SELECT t.doc_id,
           CAST(len(printf('%b', total.n_total)) - len(printf('%b', v.cnt)) AS BIGINT) AS bits
    FROM toks t JOIN vocab v USING (token) CROSS JOIN total
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(bits) AS BIGINT) AS total_bits,
       round(CAST(SUM(bits) AS DOUBLE) / COUNT(*), 6) AS avg_bits
FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (association rules over order baskets).
# ---------------------------------------------------------------------------
BASKET_MIN_PAIR = 2
BASKET_TOPK = 50


def analytic_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-pair association rules over order baskets: support counts
    from the distinct (order, part) table, pair counts from a
    same-order self-join with p1 < p2 (≤ C(7,2) pair rows per order —
    linear in fact size), lift as a single double division of exact
    BIGINT products. Top-50 by lift with a full tiebreak order.

    Deliberately NOT persisted: the distinct basket table feeds four
    consumers, but its shuffle output is identical for all of them,
    so Spark's ReuseExchange serves every branch from ONE
    materialized exchange — while an explicit persist replaces
    that with an InMemoryRelation whose columnar cache scans block
    whole-stage codegen fusion and AQE stage reuse (measured at
    sf0.01/local[8]: 26-37 s cached vs 0.7-1.2 s uncached, a 30x
    penalty). Same at 100 TB: exchange reuse is free co-location; a
    fact-sized cache is an eviction storm."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    part_cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("part_orders"))
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .filter(F.col("pair_orders") >= BASKET_MIN_PAIR)
    )
    c1 = part_cnt.select(F.col("l_partkey").alias("p1"), F.col("part_orders").alias("c1"))
    c2 = part_cnt.select(F.col("l_partkey").alias("p2"), F.col("part_orders").alias("c2"))
    return (
        pairs.join(c1, "p1")
        .join(c2, "p2")
        .crossJoin(n_orders)
        .select(
            "p1",
            "p2",
            F.col("pair_orders").cast("long").alias("pair_orders"),
            F.col("c1").cast("long").alias("c1"),
            F.col("c2").cast("long").alias("c2"),
            # DECIMAL(38,0) promotion (graph_pagerank discipline):
            # pair_orders·n_orders and c1·c2 are BIGINT products that
            # overflow past ~9.2e18 (ARITHMETIC_OVERFLOW under ANSI —
            # the Spark 4 default — or a silent wrap under non-ANSI;
            # n_orders ~ 1e11 at 100 TB) while the DuckDB twin
            # auto-promotes to HUGEINT; exact products, ONE double
            # division, like the oracle's CAST(... AS DOUBLE) / (...).
            F.round(
                (
                    F.col("pair_orders").cast("decimal(38,0)")
                    * F.col("n_orders").cast("decimal(38,0)")
                ).cast("double")
                / (
                    F.col("c1").cast("decimal(38,0)")
                    * F.col("c2").cast("decimal(38,0)")
                ).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "p1", "p2")
        .limit(BASKET_TOPK)
    )


ANALYTIC_MARKET_BASKET_ORACLE = f"""
WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), part_cnt AS (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS part_orders FROM li GROUP BY l_partkey
), n AS (
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li
), pairs AS (
    SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(COUNT(*) AS BIGINT) AS pair_orders
    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {BASKET_MIN_PAIR}
)
SELECT p1, p2, pair_orders,
       ca.part_orders AS c1, cb.part_orders AS c2,
       round(CAST(pair_orders * n.n_orders AS DOUBLE) / (ca.part_orders * cb.part_orders), 6) AS lift
FROM pairs
JOIN part_cnt ca ON pairs.p1 = ca.l_partkey
JOIN part_cnt cb ON pairs.p2 = cb.l_partkey
CROSS JOIN n
ORDER BY lift DESC, p1, p2
LIMIT {BASKET_TOPK}
"""


# ---------------------------------------------------------------------------
# Python UDTF (Spark 4 table function API) — run-length encoding of
# token streams, Arrow-batched (ArrowEvalPythonUDTF, never the
# row-at-a-time BatchEvalPython the plan audit bans). Oracle: the
# classic gaps-and-islands SQL formulation — a genuinely independent
# re-derivation of the same runs.
# ---------------------------------------------------------------------------


def _make_rle_udtf():
    """Factory closure so cloudpickle ships the CLASS by value (the
    driver's cwd is not /root/repo — module-by-reference would break
    workers; same discipline as the DataSource classes)."""
    from pyspark.sql.functions import udtf  # noqa: PLC0415

    @udtf(
        returnType="doc_id: bigint, start_pos: int, token: string, run_len: int",
        useArrow=True,
    )
    class RleTokens:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            toks = text.split(" ") if text else []
            i = 0
            while i < len(toks):
                j = i
                while j < len(toks) and toks[j] == toks[i]:
                    j += 1
                yield doc_id, i, toks[i], j - i
                i = j

    return RleTokens


def udtf_rle_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of each document's token stream via a
    Python UDTF (one variable-arity output table per input row — the
    API surface SURVEY §2.10 lists as available-if-needed). Arrow
    batch transfer; narrow (no shuffle)."""
    spark.udtf.register("rle_tokens", _make_rle_udtf())
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    view = f"docs_rle_{sf_tag}"
    spread(load(spark, sf_dir, "documents").select("doc_id", "text")).createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT s.doc_id, s.start_pos, s.token, s.run_len "
        f"FROM {view} d, LATERAL rle_tokens(d.doc_id, d.text) s"
    )


UDTF_RLE_TOKENS_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), x AS (
    SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks FROM t
), tok AS (
    SELECT doc_id, i, toks[i] AS token FROM x
), marks AS (
    SELECT doc_id, i, token,
           CASE WHEN lag(token) OVER (PARTITION BY doc_id ORDER BY i)
                     IS DISTINCT FROM token THEN 1 ELSE 0 END AS is_start
    FROM tok
), grp AS (
    SELECT doc_id, i, token,
           SUM(is_start) OVER (PARTITION BY doc_id ORDER BY i) AS g
    FROM marks
)
SELECT doc_id, CAST(MIN(i) - 1 AS INTEGER) AS start_pos, token,
       CAST(COUNT(*) AS INTEGER) AS run_len
FROM grp GROUP BY doc_id, g, token
"""


SPECS.extend(
    [
        QuerySpec(
            name="win_ewma",
            fn=win_ewma,
            oracle=_ewma_oracle(),
        ),
        QuerySpec(
            name="text_surprisal",
            fn=text_surprisal,
            oracle=TEXT_SURPRISAL_ORACLE,
        ),
        QuerySpec(
            name="analytic_market_basket",
            fn=analytic_market_basket,
            oracle=ANALYTIC_MARKET_BASKET_ORACLE,
        ),
        QuerySpec(
            name="udtf_rle_tokens",
            fn=udtf_rle_tokens,
            oracle=UDTF_RLE_TOKENS_ORACLE,
        ),
    ]
)


def _make_parse_delimited_udtf():
    """Factory closure (by-value pickling, same rule as _make_rle_udtf)
    for the POLYMORPHIC UDTF: `analyze()` derives the output schema
    from the constant format argument at plan time."""
    from pyspark.sql import types as T  # noqa: PLC0415
    from pyspark.sql.functions import (  # noqa: PLC0415
        AnalyzeArgument,
        AnalyzeResult,
        udtf,
    )

    _TYPES = {
        "string": T.StringType(),
        "int": T.IntegerType(),
        "bigint": T.LongType(),
        "double": T.DoubleType(),
    }

    @udtf(useArrow=True)
    class ParseDelimited:
        @staticmethod
        def analyze(fmt: AnalyzeArgument, line: AnalyzeArgument) -> AnalyzeResult:
            if not fmt.isConstantExpression:
                raise Exception("parse_delimited: fmt must be a constant")
            # analyze() runs in Spark's context-less Python planner
            # process — StructType.fromDDL needs a SparkContext, so the
            # mini-DDL is parsed by hand
            fields = []
            for spec in fmt.value.split(","):
                name, typ = spec.strip().rsplit(" ", 1)
                fields.append(T.StructField(name, _TYPES[typ]))
            return AnalyzeResult(schema=T.StructType(fields))

        def __init__(self, analyze_result=None):
            self.schema = analyze_result.schema if analyze_result else None

        def eval(self, fmt: str, line: str):
            parts = line.split(",")
            out = []
            for f, p in zip(self.schema.fields, parts):
                t = f.dataType.simpleString()
                if t in ("int", "bigint"):
                    out.append(int(p))
                elif t == "double":
                    out.append(float(p))
                else:
                    out.append(p)
            yield tuple(out)

    return ParseDelimited


def udtf_analyze_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF — `analyze()` (Spark 3.5+/4.x) computes
    the output schema at PLAN time from the constant format string, so
    one registered function parses any delimited layout with typed
    columns (the classic "schema-on-read ingestion helper" that would
    otherwise need one UDTF per layout). The fixture exercise
    round-trips part attributes through a CSV line and back; the
    oracle selects the originals, proving the parse is lossless and
    correctly typed."""
    spark.udtf.register("parse_delimited", _make_parse_delimited_udtf())
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    view = f"part_lines_{sf_tag}"
    load(spark, sf_dir, "part").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT p.p_partkey, s.name, s.brand, s.size
        FROM {view} p,
        LATERAL parse_delimited(
            'name string, brand string, size int',
            concat_ws(',', p.p_name, p.p_brand, CAST(p.p_size AS STRING))) s
        """
    )


UDTF_ANALYZE_PARSE_ORACLE = """
SELECT p_partkey, p_name AS name, p_brand AS brand, p_size AS size FROM part
"""

SPECS.append(
    QuerySpec(
        name="udtf_analyze_parse",
        fn=udtf_analyze_parse,
        oracle=UDTF_ANALYZE_PARSE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# text_bpe_train — byte-pair-encoding merge induction over the corpus
# ---------------------------------------------------------------------------

BPE_ROUNDS = 3
_BPE_EOW = "_"  # end-of-word marker symbol (classic BPE Sennrich et al.)


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Shared BPE machinery: the learn loop returning (merge-row
    DataFrames, final per-distinct-word symbol sequences) after
    BPE_ROUNDS merges — `text_bpe_train` reports the former,
    `text_bpe_apply` consumes the latter."""
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.select(
        "word",
        "cnt",
        F.concat(F.split("word", ""), F.array(F.lit(_BPE_EOW))).alias("arr"),
    )
    merges = []
    for r in range(1, BPE_ROUNDS + 1):
        pairs = cur.select(
            "cnt",
            F.expr(
                "explode(arrays_zip(slice(arr, 1, size(arr)-1),"
                " slice(arr, 2, size(arr)-1)))"
            ).alias("p"),
        ).select(
            F.expr("p.`0`").alias("lhs"), F.expr("p.`1`").alias("rhs"), "cnt"
        )
        m = (
            pairs.groupBy("lhs", "rhs")
            .agg(F.sum("cnt").alias("pair_weight"))
            .orderBy(F.desc("pair_weight"), "lhs", "rhs")
            .limit(1)
        )
        merges.append(
            m.select(
                F.lit(r).alias("merge_rank"),
                "lhs",
                "rhs",
                F.concat("lhs", "rhs").alias("merged"),
                "pair_weight",
            )
        )
        wrapped = F.concat_ws(
            "", F.transform("arr", lambda s: F.concat(F.lit("<"), s, F.lit(">")))
        )
        cur = cur.crossJoin(m).select(
            "word",
            "cnt",
            F.regexp_extract_all(
                F.replace(
                    wrapped,
                    F.concat(
                        F.lit("<"), F.col("lhs"), F.lit("><"), F.col("rhs"),
                        F.lit(">"),
                    ),
                    F.concat(F.lit("<"), F.col("lhs"), F.col("rhs"), F.lit(">")),
                ),
                F.lit("<([^>]*)>"),
                1,
            ).alias("arr"),
        )
    return merges, cur


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING in-engine (Sennrich et al. 2016): learn
    the first 3 merge rules from the corpus — the vocabulary-induction
    step every LLM data pipeline runs before tokenization. Each round:
    count adjacent symbol pairs over the word-frequency table (weights,
    not raw occurrences — the classic trick that makes the corpus pass
    O(|vocab|) instead of O(|corpus|) per round), take the argmax pair
    under an explicit total order (weight desc, pair asc), and apply
    the merge to every symbol sequence.

    The merge application uses delimiter-wrapped string replace:
    sequences render as '<s1><s2>...' and merging (a,b) is ONE literal
    replace of '<a><b>' → '<ab>' — both engines' replace() scans
    left-to-right non-overlapping and resumes AFTER the replacement,
    which IS greedy BPE merge semantics (no adjacent-overlap
    double-merge). Symbols stay in [a-z_] so the delimiters are safe.

    Scale shape: the per-round pair count is a map-side-combinable
    aggregate over the DISTINCT-WORD table (shuffle carries one row
    per distinct pair); the 1-row argmax broadcasts; applying the
    merge is row-local. Production BPE runs thousands of rounds with
    the same per-round plan (checkpointing the sequence table every k
    rounds to cut lineage) — 3 unrolled here so the DuckDB twin can
    chain the same rounds as CTEs and hash-match exactly."""
    merges, _ = _bpe_learn(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("merge_rank")


def _bpe_with_body() -> tuple[str, str]:
    """Shared WITH-body (words, seq0, rounds) + the final seq CTE name."""
    rounds = []
    prev = "seq0"
    for r in range(1, BPE_ROUNDS + 1):
        rounds.append(f"""
p{r} AS (
    SELECT arr[i+1] AS lhs, arr[i+2] AS rhs, CAST(SUM(cnt) AS BIGINT) AS pair_weight
    FROM (
        SELECT arr, cnt, unnest(range(len(arr) - 1)) AS i FROM {prev}
    )
    GROUP BY 1, 2
),
m{r} AS (
    SELECT lhs, rhs, pair_weight FROM p{r}
    ORDER BY pair_weight DESC, lhs, rhs LIMIT 1
),
seq{r} AS (
    SELECT word, cnt,
           regexp_extract_all(
               replace(
                   list_aggregate(
                       list_transform(arr, s -> '<' || s || '>'),
                       'string_agg', ''),
                   '<' || m{r}.lhs || '><' || m{r}.rhs || '>',
                   '<' || m{r}.lhs || m{r}.rhs || '>'),
               '<([^>]*)>', 1) AS arr
    FROM {prev}, m{r}
)""")
        prev = f"seq{r}"
    body = f"""
WITH words AS (
    SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ) WHERE regexp_matches(w, '^[a-z]+$')
    GROUP BY w
),
seq0 AS (
    SELECT word, cnt, list_append(string_split(word, ''), '{_BPE_EOW}') AS arr
    FROM words
),{",".join(rounds)}"""
    return body, prev


def _bpe_train_oracle() -> str:
    body, _ = _bpe_with_body()
    selects = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, lhs, rhs, lhs || rhs AS merged, pair_weight FROM m{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return f"""{body}
SELECT * FROM ({selects}) ORDER BY merge_rank
"""


SPECS.append(
    QuerySpec(
        "text_bpe_train",
        text_bpe_train,
        _bpe_train_oracle(),
    )
)


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY — tokenize the corpus with the merges just learned
    (train→apply is the full tokenizer pipeline): the final symbol
    sequences computed once per DISTINCT word join back onto each
    document's word occurrences, so the corpus pass is an equi-join +
    one aggregate, never re-running the merge string ops per
    occurrence (the same distinct-word amortization the trainer
    uses). Output per document: word count, pre-BPE symbol count
    (chars + end marker), post-BPE token count, and the compression
    ratio — the number an LLM-data pipeline budgets by."""
    _, seqs = _bpe_learn(spark, sf_dir)
    tok = seqs.select("word", F.size("arr").alias("n_tok"))
    docword = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    per_doc = (
        docword.join(tok, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_words"),
            F.sum(F.col("n_occ") * (F.length("word") + 1)).alias("n_char_tokens"),
            F.sum(F.col("n_occ") * F.col("n_tok")).alias("n_bpe_tokens"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_char_tokens",
        "n_bpe_tokens",
        F.round(F.col("n_bpe_tokens") / F.col("n_char_tokens"), 6).alias(
            "compression"
        ),
    ).orderBy("doc_id")


def _bpe_apply_oracle() -> str:
    body, final = _bpe_with_body()
    return f"""{body},
tok AS (SELECT word, CAST(len(arr) AS BIGINT) AS n_tok FROM {final}),
docword AS (
    SELECT doc_id, w AS word, CAST(COUNT(*) AS BIGINT) AS n_occ FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ) WHERE regexp_matches(w, '^[a-z]+$')
    GROUP BY 1, 2
)
SELECT d.doc_id,
       CAST(SUM(d.n_occ) AS BIGINT) AS n_words,
       CAST(SUM(d.n_occ * (length(d.word) + 1)) AS BIGINT) AS n_char_tokens,
       CAST(SUM(d.n_occ * t.n_tok) AS BIGINT) AS n_bpe_tokens,
       round(SUM(d.n_occ * t.n_tok) * 1.0
             / SUM(d.n_occ * (length(d.word) + 1)), 6) AS compression
FROM docword d JOIN tok t USING (word)
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


SPECS.append(
    QuerySpec(
        "text_bpe_apply",
        text_bpe_apply,
        _bpe_apply_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Python UDTF with a TABLE argument + PARTITION BY / ORDER BY (the
# Spark 4 polymorphic-table-function input path the other two UDTFs
# don't exercise: whole-partition streaming input with per-key
# instance lifecycle, aggregation in terminate()).
# ---------------------------------------------------------------------------

_BURST_GAP_US = 3_600 * 1_000_000  # 1h inactivity splits bursts


def _make_burst_udtf():
    """Factory closure (class shipped by value — cwd-independent)."""
    from pyspark.sql.functions import udtf  # noqa: PLC0415

    @udtf(
        returnType="user_id: bigint, n_events: bigint, n_bursts: bigint,"
        " max_gap_us: bigint",
        useArrow=True,
    )
    class UserBursts:
        def __init__(self):  # noqa: ANN204
            self.uid = None
            self.n = 0
            self.bursts = 0
            self.max_gap = 0
            self.last = None

        def eval(self, row):  # noqa: ANN001
            uid, ts = row["user_id"], row["ts_us"]
            if self.uid is None:
                self.uid, self.bursts = uid, 1
            else:
                gap = ts - self.last
                if gap > self.max_gap:
                    self.max_gap = gap
                if gap >= _BURST_GAP_US:
                    self.bursts += 1
            self.n += 1
            self.last = ts

        def terminate(self):  # noqa: ANN204
            if self.uid is not None:
                yield self.uid, self.n, self.bursts, self.max_gap

    return UserBursts


def udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity-burst summary via a Python UDTF consuming a
    TABLE argument with ``PARTITION BY user_id ORDER BY ts_us`` —
    Spark instantiates the class once per user partition, streams the
    ordered rows through ``eval``, and collects the per-key summary
    from ``terminate``. This is the polymorphic-table-function shape
    for whole-group custom logic when ``applyInPandas`` would buffer
    more than needed. Equal timestamps contribute gap 0 under any
    tie order, so the output is deterministic. Scale: one shuffle on
    user_id (the PARTITION BY), per-group state is O(1)."""
    spark.udtf.register("user_bursts", _make_burst_udtf())
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    view = f"events_bursts_{sf_tag}"
    load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    ).createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT * FROM user_bursts(TABLE(SELECT user_id, ts_us FROM {view})"
        f" PARTITION BY user_id ORDER BY ts_us)"
    )


UDTF_TABLE_ARG_ORACLE = f"""
WITH e AS (
    SELECT user_id, epoch_us(ts) AS ts_us FROM events
),
gaps AS (
    SELECT user_id,
           ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS gap
    FROM e
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(1 + SUM(CASE WHEN gap >= {_BURST_GAP_US} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_bursts,
       CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_us
FROM gaps GROUP BY user_id
"""

SPECS.append(
    QuerySpec(
        name="udtf_table_arg",
        fn=udtf_table_arg,
        oracle=UDTF_TABLE_ARG_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# wf_fair_share_budget — max-min fair token allocation across sources
# ---------------------------------------------------------------------------

_FS_BUDGET_PCT = 50  # allocate 50% of total corpus tokens


def wf_fair_share_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min FAIR-SHARE allocation of a token budget across corpus
    sources (progressive filling / water-filling): every source gets
    ``min(demand, L)`` where the water level L is chosen so the
    grants sum to the budget — small sources are satisfied in full,
    large ones capped at a common level. This is the budgeting rule
    behind `wf_data_mixture`-style corpus blending when a target
    token count must be split without starving small domains.

    L has a CLOSED FORM — no iteration: sort demands ascending with
    cumulative sums; the fill level lands after the last source
    whose full grant fits (``cum_k + d_k·(n−k) ≤ budget``), and the
    remaining budget divides integrally among the uncapped sources
    (div + remainder to the first ones by name, so grants sum
    EXACTLY to the budget in pure integers). Shape: one token
    aggregation per source (dimension-sized), windows over the
    source relation, broadcast scalars."""
    docs = load(spark, sf_dir, "documents")
    demand = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("demand")
    )
    tot = demand.agg(
        F.expr(f"(sum(demand) * {_FS_BUDGET_PCT}) div 100").alias("budget"),
        F.count(F.lit(1)).alias("n_src"),
    )
    w = Window.orderBy("demand", "source")
    cum = demand.select(
        "source",
        "demand",
        F.sum("demand").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(w).alias("k"),
    ).crossJoin(tot)
    # a source is FULLY satisfiable iff granting it (and every smaller
    # source) in full still leaves >= demand for each larger source
    sat = cum.withColumn(
        "fits", F.col("cum") + F.col("demand") * (F.col("n_src") - F.col("k")) <= F.col("budget")
    )
    cut = sat.agg(
        F.max(F.when(F.col("fits"), F.col("k")).otherwise(0)).alias("k_sat"),
        F.max(F.when(F.col("fits"), F.col("cum")).otherwise(0)).alias("cum_sat"),
    )
    alloc = (
        sat.crossJoin(cut)
        .withColumn("n_uncapped", F.col("n_src") - F.col("k_sat"))
        .withColumn(
            "level",
            F.when(
                F.col("n_uncapped") > 0,
                F.expr("(budget - cum_sat) div n_uncapped"),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "rem",
            F.when(
                F.col("n_uncapped") > 0,
                (F.col("budget") - F.col("cum_sat")) % F.col("n_uncapped"),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "granted",
            F.when(F.col("fits"), F.col("demand")).otherwise(
                F.col("level")
                + (F.col("k") - F.col("k_sat") <= F.col("rem")).cast("bigint")
            ),
        )
    )
    return alloc.select(
        "source",
        F.col("demand").cast("bigint").alias("demand_tokens"),
        F.col("granted").cast("bigint").alias("granted_tokens"),
        F.col("fits").alias("fully_satisfied"),
        F.col("budget").cast("bigint").alias("budget_tokens"),
    ).orderBy("source")


WF_FAIR_SHARE_BUDGET_ORACLE = f"""
WITH demand AS (
    SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS demand
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST((SUM(demand) * {_FS_BUDGET_PCT}) // 100 AS BIGINT) AS budget,
           COUNT(*) AS n_src
    FROM demand
),
cum AS (
    SELECT source, demand,
           SUM(demand) OVER (ORDER BY demand, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           row_number() OVER (ORDER BY demand, source) AS k
    FROM demand
),
sat AS (
    SELECT c.*, t.budget, t.n_src,
           c.cum + c.demand * (t.n_src - c.k) <= t.budget AS fits
    FROM cum c CROSS JOIN tot t
),
cut AS (
    SELECT MAX(CASE WHEN fits THEN k ELSE 0 END) AS k_sat,
           MAX(CASE WHEN fits THEN cum ELSE 0 END) AS cum_sat
    FROM sat
)
SELECT source,
       CAST(demand AS BIGINT) AS demand_tokens,
       CAST(CASE WHEN fits THEN demand
                 ELSE (budget - cum_sat) // (n_src - k_sat)
                      + CASE WHEN k - k_sat
                                  <= (budget - cum_sat) % (n_src - k_sat)
                             THEN 1 ELSE 0 END
            END AS BIGINT) AS granted_tokens,
       fits AS fully_satisfied,
       CAST(budget AS BIGINT) AS budget_tokens
FROM sat CROSS JOIN cut
ORDER BY source
"""

SPECS.append(
    QuerySpec(
        name="wf_fair_share_budget",
        fn=wf_fair_share_budget,
        oracle=WF_FAIR_SHARE_BUDGET_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# wf_mixture_temperature — temperature-based corpus mixing (alpha-sampling)
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.3  # the mT5 / multilingual-LM default
_MIX_BUDGET = 10_000  # documents to allocate across sources


def wf_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture allocation: source i receives budget
    ∝ n_i^α (α=0.3 — the mT5 multilingual mixing rule that upweights
    small sources relative to proportional sampling), with the
    fractional allocations resolved to an EXACT integer partition of
    the budget by the largest-remainder method. Complements
    ``wf_data_mixture`` (per-doc hash sampling at given rates) by
    computing the rates themselves.

    Determinism: the only float op is pow(n, α), immediately rounded
    and scaled to integer micro-units; everything after — weight sum,
    floor allocation (bigint `div`), remainder ranking, leftover
    distribution — is exact integer arithmetic, so Σ alloc == budget
    is an identity, not a rounding hope. One count aggregate over the
    corpus; every window runs on the sources relation (≤ thousands of
    rows at any corpus size)."""
    src = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w_mu = F.round(F.pow(F.col("n_docs").cast("double"), F.lit(_MIX_ALPHA)) * 1_000_000).cast(
        "long"
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base = src.select(
        "source",
        "n_docs",
        w_mu.alias("w_mu"),
        F.sum(w_mu).over(w_all).alias("w_total"),
    ).select(
        "source",
        "n_docs",
        "w_mu",
        F.expr(f"(w_mu * {_MIX_BUDGET}) div w_total").alias("alloc_base"),
        (F.col("w_mu") * _MIX_BUDGET - F.expr(f"(w_mu * {_MIX_BUDGET}) div w_total") * F.col("w_total")).alias("rem"),
        F.col("w_total"),
    )
    w_rank = Window.orderBy(F.desc("rem"), F.asc("source"))
    w_left = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = base.select(
        "source",
        "n_docs",
        "w_mu",
        "alloc_base",
        F.row_number().over(w_rank).alias("rk"),
        (F.lit(_MIX_BUDGET) - F.sum("alloc_base").over(w_left)).alias("leftover"),
    )
    return ranked.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "w_mu",
        F.col("alloc_base").cast("bigint").alias("alloc_base"),
        (F.col("rk") <= F.col("leftover")).cast("int").alias("extra"),
        (F.col("alloc_base") + (F.col("rk") <= F.col("leftover")).cast("int"))
        .cast("bigint")
        .alias("alloc"),
    ).orderBy("source")


WF_MIXTURE_TEMPERATURE_ORACLE = f"""
WITH src AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
weighted AS (
    SELECT source, n_docs,
           CAST(round(pow(CAST(n_docs AS DOUBLE), {_MIX_ALPHA}) * 1000000) AS BIGINT) AS w_mu
    FROM src
),
based AS (
    SELECT source, n_docs, w_mu,
           (w_mu * {_MIX_BUDGET}) // SUM(w_mu) OVER () AS alloc_base,
           w_mu * {_MIX_BUDGET}
             - ((w_mu * {_MIX_BUDGET}) // SUM(w_mu) OVER ()) * SUM(w_mu) OVER () AS rem
    FROM weighted
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk,
           {_MIX_BUDGET} - SUM(alloc_base) OVER () AS leftover
    FROM based
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, w_mu,
       CAST(alloc_base AS BIGINT) AS alloc_base,
       CAST(rk <= leftover AS INTEGER) AS extra,
       CAST(alloc_base + CAST(rk <= leftover AS INTEGER) AS BIGINT) AS alloc
FROM ranked
ORDER BY source
"""

SPECS.append(
    QuerySpec(
        "wf_mixture_temperature",
        wf_mixture_temperature,
        WF_MIXTURE_TEMPERATURE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# wf_sft_format — chat-template rendering for supervised fine-tuning
# ---------------------------------------------------------------------------

_SFT_PROMPT_TOKENS = 12  # leading tokens become the user turn
_SFT_SYSTEM = "You are a helpful assistant."
# Role sentinels of the rendered template. The loss-mask boundary is a
# CHARACTER OFFSET into the rendered string (everything strictly before
# it is masked out of the loss), which is what a downstream tokenizer
# needs to rebuild a token-level mask without re-parsing the template.
_SFT_PRE_USER = f"<|system|>\n{_SFT_SYSTEM}\n<|user|>\n"
_SFT_PRE_ASSISTANT = "\n<|assistant|>\n"
_SFT_END = "<|end|>"


def wf_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render (prompt, completion) pairs into a chat-template string
    for SFT, with the loss-mask boundary emitted as a char offset.

    The pair is derived from the corpus itself (first
    ``_SFT_PROMPT_TOKENS`` whitespace tokens = user turn, remainder =
    assistant turn; docs too short to yield a completion are
    dropped) — the deterministic stand-in for an instruction dataset.
    Everything is JVM string assembly (split/slice/array_join/concat/
    length): a narrow per-row map with NO shuffle at any corpus size;
    the template literals live in one place so Spark and the oracle
    render byte-identical strings."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    both = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_join(F.slice(toks, 1, _SFT_PROMPT_TOKENS), " ").alias("prompt"),
        F.array_join(
            F.slice(
                toks,
                _SFT_PROMPT_TOKENS + 1,
                F.greatest(F.size(toks) - _SFT_PROMPT_TOKENS, F.lit(0)),
            ),
            " ",
        ).alias("completion"),
    ).filter(F.col("n_tokens") > _SFT_PROMPT_TOKENS)
    rendered = F.concat(
        F.lit(_SFT_PRE_USER),
        F.col("prompt"),
        F.lit(_SFT_PRE_ASSISTANT),
        F.col("completion"),
        F.lit(_SFT_END),
    )
    return both.select(
        "doc_id",
        F.lit(_SFT_PROMPT_TOKENS).cast("int").alias("n_prompt_tokens"),
        (F.col("n_tokens") - _SFT_PROMPT_TOKENS).cast("int").alias("n_completion_tokens"),
        rendered.alias("rendered"),
        F.length(rendered).cast("int").alias("n_chars"),
        # loss starts at the first assistant char (0-indexed offset)
        (F.lit(len(_SFT_PRE_USER) + len(_SFT_PRE_ASSISTANT))
         + F.length("prompt")).cast("int").alias("loss_start"),
    )


def _sql_estr(s: str) -> str:
    """DuckDB E'...' escape-string literal (real newlines, not the
    two-char sequence a plain repr would leave behind)."""
    return "E'" + s.replace("\\", "\\\\").replace("'", "''").replace("\n", "\\n") + "'"


_SFT_P = _SFT_PROMPT_TOKENS
WF_SFT_FORMAT_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), pair AS (
    SELECT doc_id, len(toks) AS n_tokens,
           array_to_string(toks[1:{_SFT_P}], ' ') AS prompt,
           array_to_string(toks[{_SFT_P} + 1:len(toks)], ' ') AS completion
    FROM t WHERE len(toks) > {_SFT_P}
)
SELECT doc_id,
       CAST({_SFT_P} AS INTEGER) AS n_prompt_tokens,
       CAST(n_tokens - {_SFT_P} AS INTEGER) AS n_completion_tokens,
       {_sql_estr(_SFT_PRE_USER)} || prompt || {_sql_estr(_SFT_PRE_ASSISTANT)}
           || completion || {_sql_estr(_SFT_END)} AS rendered,
       CAST({len(_SFT_PRE_USER) + len(_SFT_PRE_ASSISTANT) + len(_SFT_END)}
            + length(prompt) + length(completion) AS INTEGER) AS n_chars,
       CAST({len(_SFT_PRE_USER) + len(_SFT_PRE_ASSISTANT)} + length(prompt)
            AS INTEGER) AS loss_start
FROM pair
"""

SPECS.append(
    QuerySpec(
        "wf_sft_format",
        wf_sft_format,
        WF_SFT_FORMAT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# wf_curriculum_schedule — easy-to-hard curriculum phases by token rarity
# ---------------------------------------------------------------------------

_CUR_PHASES = 4          # curriculum stages, equal token budgets
_CUR_BUCKET_MU = 100_000  # difficulty micro-units per histogram bucket


def wf_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning schedule: score each document's difficulty
    as its mean token rarity (corpus-level -log2 token frequency),
    then assign docs to ``_CUR_PHASES`` easy-to-hard phases with
    (approximately) EQUAL TOKEN BUDGETS per phase.

    Scale posture — the phase boundary is NOT a global row sort:
    difficulty is quantized into integer histogram buckets
    (``difficulty div _CUR_BUCKET_MU``), token mass is aggregated per
    bucket (a few hundred rows at any corpus size), the cumulative
    split runs as a window over that bucket relation, and the
    bucket→phase map broadcasts back onto the docs. Shuffles: the
    vocabulary count, the token→rarity equi-join, the per-doc sum —
    all key-partitioned hash aggs/joins that survive a 100× scale-up.

    Determinism: the only float op is log2 over two exact integers,
    immediately rounded to micro-units (the ``wf_mixture_temperature``
    pow() precedent); every downstream step is BIGINT arithmetic."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total_toks = vocab.agg(F.sum("tf").alias("total"))
    rarity = vocab.join(total_toks).select(
        "tok",
        F.round(F.log2(F.col("total").cast("double") / F.col("tf")) * 1_000_000)
        .cast("long")
        .alias("r_mu"),
    )
    per_doc = (
        toks.join(rarity, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("r_mu").alias("r_sum"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("r_sum div n_tokens").alias("difficulty_mu"),
        )
        .withColumn("bucket", F.expr(f"difficulty_mu div {_CUR_BUCKET_MU}"))
    )
    buckets = per_doc.groupBy("bucket").agg(F.sum("n_tokens").alias("b_tokens"))
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    phase_map = buckets.select(
        "bucket",
        F.coalesce(F.sum("b_tokens").over(w_cum), F.lit(0)).alias("cum_excl"),
        F.sum("b_tokens").over(w_all).alias("tot"),
    ).select(
        "bucket",
        F.least(
            F.expr(f"(cum_excl * {_CUR_PHASES}) div tot"), F.lit(_CUR_PHASES - 1)
        ).cast("int").alias("phase"),
    )
    return per_doc.join(F.broadcast(phase_map), "bucket").select(
        "doc_id", "n_tokens", "difficulty_mu",
        F.col("bucket").cast("bigint").alias("bucket"), "phase",
    )


WF_CURRICULUM_SCHEDULE_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (
    SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok
),
rarity AS (
    SELECT tok,
           CAST(round(log2(CAST((SELECT SUM(tf) FROM vocab) AS DOUBLE) / tf)
                      * 1000000) AS BIGINT) AS r_mu
    FROM vocab
),
per_doc AS (
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(r.r_mu) // COUNT(*) AS BIGINT) AS difficulty_mu
    FROM toks t JOIN rarity r USING (tok)
    GROUP BY t.doc_id
),
bucketed AS (
    SELECT *, CAST(difficulty_mu // {_CUR_BUCKET_MU} AS BIGINT) AS bucket FROM per_doc
),
buckets AS (
    SELECT bucket, SUM(n_tokens) AS b_tokens FROM bucketed GROUP BY bucket
),
phase_map AS (
    SELECT bucket,
           CAST(LEAST((COALESCE(SUM(b_tokens) OVER (ORDER BY bucket
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       * {_CUR_PHASES}) // SUM(b_tokens) OVER (),
                      {_CUR_PHASES - 1}) AS INTEGER) AS phase
    FROM buckets
)
SELECT b.doc_id, b.n_tokens, b.difficulty_mu,
       CAST(b.bucket AS BIGINT) AS bucket, p.phase
FROM bucketed b JOIN phase_map p USING (bucket)
"""

SPECS.append(
    QuerySpec(
        "wf_curriculum_schedule",
        wf_curriculum_schedule,
        WF_CURRICULUM_SCHEDULE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# wf_active_learning_select — uncertainty sampling with per-source caps
# ---------------------------------------------------------------------------

_AL_PER_SOURCE_CAP = 3  # diversity constraint: ≤3 picks per source
_AL_BUDGET = 20         # annotation budget (global top-K)


def wf_active_learning_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning batch selection: route the documents the
    quality classifier is LEAST SURE about to annotation —
    uncertainty sampling (margin |score − ½| ascending) under a
    per-source cap so one domain can't monopolize the labeling
    budget. Reuses `text_quality_logreg`'s rational-sigmoid scores
    (bit-identical across engines by construction), so the selection
    itself hash-matches.

    Shape: score is a narrow map; the cap is a per-SOURCE rank window
    (key-partitioned); the final budget cut is orderBy+limit —
    TakeOrderedAndProject's bounded per-partition heaps, never a
    global sort. Total order everywhere (doc_id tiebreak), so the
    selected batch is reproducible run to run — an annotation-audit
    requirement, not a nicety."""
    from .text_analysis import text_quality_logreg  # noqa: PLC0415

    scored = text_quality_logreg(spark, sf_dir).select(
        "doc_id",
        "source",
        "score",
        F.round(F.abs(F.col("score") - 0.5), 6).alias("uncertainty"),
    )
    w = Window.partitionBy("source").orderBy("uncertainty", "doc_id")
    capped = (
        scored.withColumn("src_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("src_rank") <= _AL_PER_SOURCE_CAP)
    )
    return capped.orderBy("uncertainty", "doc_id").limit(_AL_BUDGET)


def _al_oracle() -> str:
    from .text_analysis import TEXT_QUALITY_LOGREG_ORACLE  # noqa: PLC0415

    return f"""
WITH scored AS (
    SELECT doc_id, source, score,
           round(abs(score - 0.5), 6) AS uncertainty
    FROM ({TEXT_QUALITY_LOGREG_ORACLE})
),
capped AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY uncertainty, doc_id) AS INTEGER) AS src_rank
    FROM scored
)
SELECT doc_id, source, score, uncertainty, src_rank
FROM capped WHERE src_rank <= {_AL_PER_SOURCE_CAP}
ORDER BY uncertainty, doc_id LIMIT {_AL_BUDGET}
"""


SPECS.append(
    QuerySpec(
        "wf_active_learning_select",
        wf_active_learning_select,
        _al_oracle(),
    )
)


# ---------------------------------------------------------------------------
# wf_dpo_pair_builder — preference pairs from near-dup variants + quality
# ---------------------------------------------------------------------------


def wf_dpo_pair_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF-style training:
    verified near-duplicate documents are treated as VARIANTS of the
    same underlying content (paraphrase pairs), and the quality
    classifier's score orders each pair into (chosen, rejected) with
    the score gap as the preference strength. Composes two registered
    legs verbatim — `dedup_ngram_jaccard`'s verified pairs and
    `text_quality_logreg`'s bit-identical scores — so the preference
    set inherits both oracles. Ties break to the lower doc_id and are
    flagged rather than dropped (a DPO trainer usually filters
    tie=1, but that's the consumer's call).

    Shape: the pair relation is near-dup-sized; scores attach via two
    hash joins (AQE broadcasts the pair side); one narrow projection
    orders each pair. Nothing here rescans the corpus."""
    from .dedup import dedup_ngram_jaccard  # noqa: PLC0415
    from .text_analysis import text_quality_logreg  # noqa: PLC0415

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    scores = text_quality_logreg(spark, sf_dir).select("doc_id", "score")
    joined = (
        pairs.join(
            scores.select(F.col("doc_id").alias("doc_a"), F.col("score").alias("score_a")),
            "doc_a",
        ).join(
            scores.select(F.col("doc_id").alias("doc_b"), F.col("score").alias("score_b")),
            "doc_b",
        )
    )
    a_wins = (F.col("score_a") > F.col("score_b")) | (
        (F.col("score_a") == F.col("score_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    return joined.select(
        F.least("doc_a", "doc_b").alias("prompt_id"),
        F.when(a_wins, F.col("doc_a")).otherwise(F.col("doc_b")).alias("chosen_id"),
        F.when(a_wins, F.col("doc_b")).otherwise(F.col("doc_a")).alias("rejected_id"),
        F.when(a_wins, F.col("score_a")).otherwise(F.col("score_b")).alias("chosen_score"),
        F.when(a_wins, F.col("score_b")).otherwise(F.col("score_a")).alias("rejected_score"),
        F.round(F.abs(F.col("score_a") - F.col("score_b")), 6).alias("score_gap"),
        (F.col("score_a") == F.col("score_b")).cast("int").alias("tie"),
    )


def _dpo_oracle() -> str:
    from .dedup import JACCARD_THRESHOLD  # noqa: PLC0415
    from .text_analysis import TEXT_QUALITY_LOGREG_ORACLE  # noqa: PLC0415

    return f"""
WITH sh AS (
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
scores AS (
    SELECT doc_id, score FROM ({TEXT_QUALITY_LOGREG_ORACLE})
),
joined AS (
    SELECT p.doc_a, p.doc_b, x.score AS score_a, y.score AS score_b,
           (x.score > y.score OR (x.score = y.score AND p.doc_a < p.doc_b)) AS a_wins
    FROM pairs p JOIN scores x ON p.doc_a = x.doc_id
                 JOIN scores y ON p.doc_b = y.doc_id
)
SELECT LEAST(doc_a, doc_b) AS prompt_id,
       CASE WHEN a_wins THEN doc_a ELSE doc_b END AS chosen_id,
       CASE WHEN a_wins THEN doc_b ELSE doc_a END AS rejected_id,
       CASE WHEN a_wins THEN score_a ELSE score_b END AS chosen_score,
       CASE WHEN a_wins THEN score_b ELSE score_a END AS rejected_score,
       round(abs(score_a - score_b), 6) AS score_gap,
       CAST(score_a = score_b AS INTEGER) AS tie
FROM joined
"""


SPECS.append(
    QuerySpec(
        "wf_dpo_pair_builder",
        wf_dpo_pair_builder,
        _dpo_oracle(),
    )
)


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al. 2023,
# arXiv:2302.03169)
# ---------------------------------------------------------------------------
#
# Select pool documents whose hashed-n-gram distribution resembles a small
# clean TARGET corpus: importance weight = sum over the doc's tokens of
# log p_target(bucket) - log p_raw(bucket), both Laplace-smoothed. The two
# bucket language models fit in O(B) rows, so scoring is a broadcast join.
#
# Cross-engine determinism: ln() is evaluated once per BUCKET (256 values,
# not per token), quantized to integer MICRO-NATS, and the per-doc score is
# an exact BIGINT sum of those integers — no float accumulation anywhere
# (the text_surprisal integer discipline applied to log-ratio weights).

DSIR_BUCKETS = 256          # hashed unigram feature space (paper: 10k)
DSIR_TARGET_LANG = "en"     # fixture stand-in for the clean target corpus
DSIR_TOPK = 100             # docs selected from the pool


def wf_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: hashed-unigram bucket LMs for target (lang =
    'en') and pool (everything else), per-bucket quantized log-ratio
    weights, per-doc integer-exact scores, top-K pool docs by score
    (ties by doc_id). 100 TB posture: the bucket table is bounded at
    DSIR_BUCKETS rows (broadcast); the corpus is touched by ONE
    explode + two hash-aggs + one per-doc agg — the same shuffle
    budget as a word count. Raising DSIR_BUCKETS to the paper's 10k
    changes only the broadcast payload."""
    docs = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    toks = docs.withColumn("bucket", h32(F.col("token")) % DSIR_BUCKETS)
    # eqNullSafe: a NULL lang must land in the POOL on both engines
    # (the oracle's CASE routes NULL to its ELSE branch; a plain ==
    # would make Spark's sums skip the row instead)
    is_target = F.col("lang").eqNullSafe(F.lit(DSIR_TARGET_LANG))
    counts = toks.groupBy("bucket").agg(
        F.sum(is_target.cast("long")).alias("ct"),
        F.sum((~is_target).cast("long")).alias("cr"),
    )
    totals = toks.agg(
        F.sum(is_target.cast("long")).alias("nt"),
        F.sum((~is_target).cast("long")).alias("nr"),
    )
    # per-bucket weight in integer micro-nats: the ONLY ln() call
    # sites, B evaluations, quantized before any summation
    w = F.round(
        (
            F.log((F.col("ct") + 1) / (F.col("nt") + DSIR_BUCKETS))
            - F.log((F.col("cr") + 1) / (F.col("nr") + DSIR_BUCKETS))
        )
        * 1_000_000.0,
        0,
    ).cast("long")
    weights = counts.crossJoin(totals).select(
        "bucket", w.alias("w_unats")
    )
    pool = toks.filter(~is_target).join(F.broadcast(weights), "bucket")
    scored = pool.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("w_unats").cast("long").alias("score_unats"),
    )
    # Top-K as orderBy+limit → TakeOrderedAndProject (per-partition
    # heaps, no global sort/window over the corpus-cardinality score
    # table); the rank window then runs on the ≤K-row result only.
    topk = scored.orderBy(F.desc("score_unats"), F.asc("doc_id")).limit(DSIR_TOPK)
    win = Window.orderBy(F.desc("score_unats"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(win)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "score_unats",
        F.col("rank").cast("int").alias("rank"),
    )


WF_DSIR_SELECT_ORACLE = f"""
WITH toks AS (
    -- IS NOT DISTINCT FROM mirrors Spark's eqNullSafe: a NULL lang
    -- yields is_target = FALSE (not NULL), so the doc lands in the
    -- POOL both in the counts CTE and in scored's WHERE NOT filter
    -- (a plain `=` would make `WHERE NOT is_target` drop NULL-lang
    -- docs from scoring while still counting them in cr).
    SELECT doc_id, lang IS NOT DISTINCT FROM '{DSIR_TARGET_LANG}' AS is_target,
           ('0x' || substring(md5(t.token), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket
    FROM documents, unnest(string_split(text, ' ')) AS t(token)
), counts AS (
    SELECT bucket,
           CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
           CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS cr
    FROM toks GROUP BY bucket
), totals AS (
    SELECT CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS nt,
           CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS nr
    FROM toks
), weights AS (
    SELECT bucket,
           CAST(round((ln((ct + 1) * 1.0 / (nt + {DSIR_BUCKETS}))
                     - ln((cr + 1) * 1.0 / (nr + {DSIR_BUCKETS}))) * 1000000.0, 0) AS BIGINT) AS w_unats
    FROM counts CROSS JOIN totals
), scored AS (
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(w.w_unats) AS BIGINT) AS score_unats
    FROM toks t JOIN weights w USING (bucket)
    WHERE NOT t.is_target
    GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, score_unats,
       CAST(row_number() OVER (ORDER BY score_unats DESC, doc_id) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {DSIR_TOPK}
"""

SPECS.append(
    QuerySpec(
        "wf_dsir_select",
        wf_dsir_select,
        WF_DSIR_SELECT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# CCNet-style LM perplexity filter (Wenzek et al. 2020, arXiv:1911.00359)
# ---------------------------------------------------------------------------
#
# CCNet buckets documents into head/middle/tail by language-model
# perplexity. The LM here is the corpus's own interpolated bigram model
# (lambda * p(w|prev) + (1-lambda) * p(w)) — the same architecture as the
# KenLM filter, self-trained so the fixture needs no external model. The
# DSIR determinism discipline applies: ln() is evaluated once per DISTINCT
# (prev, w) pair on the vocabulary-sized stats table, quantized to integer
# micro-nats, and per-doc surprisal is an exact BIGINT sum.

CCNET_LAMBDA = 0.7  # bigram weight in the interpolation
CCNET_BUCKETS = 3   # head / middle / tail


def text_ccnet_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document interpolated-bigram surprisal + CCNet tercile
    bucket (1=head=lowest surprisal). Corpus LM: two hash-aggs
    (unigram, bigram); scoring: the token stream joins the bigram
    stats table on (prev, w) — an equi-join on vocabulary-bounded
    keys — and one per-doc aggregation. The final ntile runs over the
    doc-level score table — corpus-cardinality rows, but 5-6 orders
    smaller than the token input; at 100 TB swap the exact tercile
    for percentile-cutpoint bucketing (approx_percentile cutoffs +
    CASE, no global sort) if even the doc-level sort is too wide.
    First token of a doc backs off to the unigram term alone. 100 TB posture: no
    broadcast assumption on the bigram table (vocabulary² can exceed
    memory) — it's a plain shuffle-hash equi-join; everything else is
    map-side combinable."""
    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    prev = F.lag("w").over(Window.partitionBy("doc_id").orderBy("pos"))
    stream = toks.select("doc_id", "pos", "w", prev.alias("pw"))

    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    n_total = toks.agg(F.count(F.lit(1)).alias("n")).select("n")
    big = (
        stream.filter(F.col("pw").isNotNull())
        .groupBy("pw", "w")
        .agg(F.count(F.lit(1)).alias("cpw_w"))
    )
    pctx = stream.filter(F.col("pw").isNotNull()).groupBy("pw").agg(
        F.count(F.lit(1)).alias("cp")
    )
    # vocabulary-sized stats with quantized surprisal terms
    uni_w = (
        uni.crossJoin(n_total)
        .select(
            "w",
            F.round(
                -F.log((1.0 - CCNET_LAMBDA) * F.col("cw") / F.col("n")) * 1e6, 0
            ).cast("long").alias("u_unats"),
        )
    )
    big_w = (
        big.join(pctx, "pw")
        .join(uni.select(F.col("w"), F.col("cw")), "w")
        .crossJoin(n_total)
        .select(
            "pw",
            "w",
            F.round(
                -F.log(
                    CCNET_LAMBDA * F.col("cpw_w") / F.col("cp")
                    + (1.0 - CCNET_LAMBDA) * F.col("cw") / F.col("n")
                )
                * 1e6,
                0,
            ).cast("long").alias("b_unats"),
        )
    )
    # Split the scoring join by backoff case (optimization r10, guide
    # §2.3 "shuffle fewer bytes"): big_w is TOTAL over non-first stream
    # rows by construction (big/pctx/uni are inner-joined stats built
    # from the SAME stream, so every observed (pw, w) pair has a row) —
    # the former stream⋈uni_w⋈big_w shape therefore used u_unats only
    # where pw IS NULL, yet shuffled the ENTIRE token stream through
    # the unigram join to get it. Now only first-of-doc tokens (one per
    # doc, 5-6 orders fewer rows at corpus scale) take the unigram
    # join; everything else takes exactly the bigram join it always
    # resolved to. coalesce(b, u) over both orientations == the union.
    firsts = (
        stream.filter(F.col("pw").isNull())
        .join(uni_w, "w")
        .select("doc_id", F.col("u_unats").alias("unats"))
    )
    rest = (
        stream.filter(F.col("pw").isNotNull())
        .join(big_w, ["pw", "w"])
        .select("doc_id", F.col("b_unats").alias("unats"))
    )
    scored = (
        firsts.unionByName(rest)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("unats").cast("long").alias("surprisal_unats"),
        )
    )
    out = scored.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "surprisal_unats",
        F.round(F.col("surprisal_unats") / F.col("n_tokens") / 1e6, 6).alias(
            "avg_nats"
        ),
    )
    # CCNet's head/middle/tail cut needs every doc's perplexity rank —
    # per-document cardinality, so the exact NTILE comes from
    # global_order + ntile_from_rank (r5), not an unpartitioned
    # window (single-task sort over the corpus). The order key is the
    # same bit-exact double (integer-unats ratio) as before.
    # Non-null precondition (ADVICE r5): the key surprisal/n_tokens
    # is non-null BY CONSTRUCTION — n_tokens = count(*) >= 1 per
    # group, and surprisal_unats sums coalesce(b_unats, u_unats)
    # where u_unats comes off an INNER join on the unigram table
    # (every token has a unigram count >= 1), so no sum term and no
    # divisor can be null and global_order's fail-loud guard cannot
    # fire.
    from ..operators._helpers import (  # noqa: PLC0415
        global_order,
        ntile_from_rank,
    )

    out = persist(out)  # (b) shuffles 11 -> 18 without it
    n_docs = out.agg(F.count(F.lit(1)).alias("_n"))
    g = global_order(
        out,
        F.col("surprisal_unats") / F.col("n_tokens"),
        (F.col("doc_id"),),
        rank_col="_rk",
    ).crossJoin(n_docs)
    return g.withColumn(
        "ccnet_bucket",
        ntile_from_rank(F.col("_rk"), F.col("_n"), CCNET_BUCKETS).cast("int"),
    ).drop("_rk", "_n")


TEXT_CCNET_PERPLEXITY_ORACLE = f"""
WITH toks AS MATERIALIZED (
    SELECT doc_id, t.pos, t.w FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS w
        FROM documents
    ) t(doc_id, pos, w) WHERE t.w <> ''
), stream AS MATERIALIZED (
    SELECT doc_id, pos, w,
           lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS pw
    FROM toks
), uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM toks GROUP BY w),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
big AS (
    SELECT pw, w, CAST(count(*) AS BIGINT) AS cpw_w
    FROM stream WHERE pw IS NOT NULL GROUP BY pw, w
), pctx AS (
    SELECT pw, CAST(count(*) AS BIGINT) AS cp
    FROM stream WHERE pw IS NOT NULL GROUP BY pw
), uni_w AS (
    SELECT w, CAST(round(-ln({1.0 - CCNET_LAMBDA} * cw / n) * 1e6, 0) AS BIGINT) AS u_unats
    FROM uni CROSS JOIN tot
), big_w AS (
    SELECT b.pw, b.w,
           CAST(round(-ln({CCNET_LAMBDA} * b.cpw_w / p.cp
                          + {1.0 - CCNET_LAMBDA} * u.cw / t.n) * 1e6, 0) AS BIGINT) AS b_unats
    FROM big b JOIN pctx p USING (pw) JOIN uni u USING (w) CROSS JOIN tot t
), scored AS (
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(COALESCE(bw.b_unats, uw.u_unats)) AS BIGINT) AS surprisal_unats
    FROM stream s
    JOIN uni_w uw USING (w)
    LEFT JOIN big_w bw ON bw.pw = s.pw AND bw.w = s.w
    GROUP BY s.doc_id
)
SELECT doc_id, n_tokens, surprisal_unats,
       round(surprisal_unats * 1.0 / n_tokens / 1e6, 6) AS avg_nats,
       CAST(ntile({CCNET_BUCKETS}) OVER (
           ORDER BY surprisal_unats * 1.0 / n_tokens, doc_id
       ) AS INTEGER) AS ccnet_bucket
FROM scored
"""

SPECS.append(
    QuerySpec(
        "text_ccnet_perplexity",
        text_ccnet_perplexity,
        TEXT_CCNET_PERPLEXITY_ORACLE,
    )
)
