"""Text analysis over the documents table (north-star LLM-pipeline
operators, BASELINE.json): token counting, quality scoring,
language-ID heuristic, document fingerprinting.

All pure JVM expressions (split/regexp/md5/array ops) — whole-stage
codegen end to end, no Python in the hot path — each with a DuckDB
oracle twin. Ratios divide exact integers, so doubles are
deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import persist
from ..spec import QuerySpec

STOPWORDS = ["the", "a", "of", "to", "and", "is", "in", "it"]

# Marker vocabularies for the n-gram language heuristic. Scores are
# marker-token hit counts; prediction = argmax with a fixed
# preference order for ties (deterministic, SURVEY §1.4 discipline).
LANG_MARKERS = {
    "en": ["the", "a", "and", "of"],
    "de": ["der", "die", "das", "und"],
    "es": ["el", "la", "los", "y"],
    "fr": ["le", "la", "les", "et"],
    "zh": ["的", "是", "了", "在"],
}
LANG_ORDER = ["en", "de", "es", "fr", "zh"]


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish subword count
    (split on any non-alphanumeric boundary AND ~4-char chunks — a
    cheap, deterministic proxy for byte-pair tokenizer budgeting)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_unique_tokens"),
        # ceil(len/4) per token, summed: subword-budget proxy.
        F.aggregate(
            toks, F.lit(0), lambda acc, t: acc + F.ceil(F.length(t) / 4).cast("int")
        ).cast("int").alias("n_subwords"),
        # BPE-ish regex chunking: ≤4-char alpha chunks, the cheap
        # deterministic stand-in for byte-pair token budgeting
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), 0))
        .cast("int")
        .alias("n_bpe_chunks"),
        F.length("text").cast("int").alias("n_chars_measured"),
    )


TEXT_TOKENS_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique_tokens,
       CAST(list_sum([CAST(ceil(length(t) / 4) AS INTEGER) FOR t IN string_split(text, ' ')]) AS INTEGER) AS n_subwords,
       CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS INTEGER) AS n_bpe_chunks,
       CAST(length(text) AS INTEGER) AS n_chars_measured
FROM documents
"""


def _stopword_hits(toks: Column) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean word length, stopword ratio,
    type-token ratio — the standard cheap pre-filter signals a corpus
    pipeline computes before expensive model-based scoring (C4/Gopher
    rules shape). Score = weighted combination, deterministic."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    quality = (
        F.when((n >= 20) & (n <= 1000), 0.4).otherwise(0.0)
        + (_stopword_hits(toks) / n) * F.lit(0.3)
        + (F.size(F.array_distinct(toks)) / n) * F.lit(0.3)
    )
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.round(F.length("text") / n, 6).alias("mean_tok_span"),
        F.round(_stopword_hits(toks) / n, 6).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct(toks)) / n, 6).alias("type_token_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


_SQL_STOPS = "['" + "', '".join(STOPWORDS) + "']"
TEXT_QUALITY_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks
    FROM documents
)
SELECT doc_id, lang, source,
       round(length(text) * 1.0 / len(toks), 6) AS mean_tok_span,
       round(len(list_filter(toks, x -> list_contains({_SQL_STOPS}, x))) * 1.0 / len(toks), 6) AS stopword_ratio,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS type_token_ratio,
       round(
           (CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END)
           + (len(list_filter(toks, x -> list_contains({_SQL_STOPS}, x))) * 1.0 / len(toks)) * 0.3
           + (len(list_distinct(toks)) * 1.0 / len(toks)) * 0.3, 6) AS quality_score
FROM t
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: count marker-token hits per language,
    predict the argmax (fixed preference order on ties). The shape of
    every dictionary-based fast lang-ID pass; swap marker lists for
    real char-n-gram tables at production scale."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def marker_hits(markers: list[str]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    pred = F.lit(None).cast("string")
    for lang in reversed(LANG_ORDER):  # earlier langs win ties
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    out = docs.select(
        "doc_id",
        "lang",
        *[scores[lang].cast("int").alias(f"score_{lang}") for lang in LANG_ORDER],
        pred.alias("predicted_lang"),
    )
    return out.withColumn("lang_match", F.col("predicted_lang") == F.col("lang"))


def _lang_id_oracle() -> str:
    score_exprs = []
    for lang in LANG_ORDER:
        lits = "['" + "', '".join(LANG_MARKERS[lang]) + "']"
        score_exprs.append(
            f"CAST(len(list_filter(toks, x -> list_contains({lits}, x))) AS INTEGER) AS score_{lang}"
        )
    greatest = "greatest(" + ", ".join(f"score_{lang}" for lang in LANG_ORDER) + ")"
    pred = "CASE " + " ".join(
        f"WHEN score_{lang} = {greatest} THEN '{lang}'" for lang in LANG_ORDER
    ) + " END"
    return f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
scored AS (
    SELECT doc_id, lang, {", ".join(score_exprs)} FROM t
)
SELECT doc_id, lang, {", ".join(f"score_{lang}" for lang in LANG_ORDER)},
       {pred} AS predicted_lang,
       ({pred}) = lang AS lang_match
FROM scored
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 content hash of the canonicalized
    text + a 60-bit integer prefix (join-key form) + min/max token
    hashes (an order-independent rolling-hash-style content sketch)."""
    docs = load(spark, sf_dir, "documents")
    canon = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    from ._helpers import h32  # noqa: PLC0415

    tok_hash = F.transform(F.split(canon, " "), h32)
    # Order-SENSITIVE polynomial rolling hash over the token-hash
    # sequence (Rabin-Karp shape): acc = (acc*31 + h) mod P — a single
    # sequential fold per row, same fold in DuckDB's list_reduce.
    rolling = F.aggregate(
        tok_hash,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % F.lit(2_147_483_647),
    )
    return docs.select(
        "doc_id",
        F.md5(canon).alias("fingerprint"),
        F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long").alias("fingerprint_id"),
        rolling.alias("rolling_hash"),
        F.array_min(tok_hash).alias("min_tok_hash"),
        F.array_max(tok_hash).alias("max_tok_hash"),
    )


TEXT_FINGERPRINT_ORACLE = """
WITH t AS (
    SELECT doc_id,
           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS canon
    FROM documents
),
h AS (
    SELECT doc_id, canon,
           [('0x' || substring(md5(tok), 1, 8))::BIGINT FOR tok IN string_split(canon, ' ')] AS th
    FROM t
)
SELECT doc_id,
       md5(canon) AS fingerprint,
       ('0x' || substring(md5(canon), 1, 15))::BIGINT AS fingerprint_id,
       list_reduce(list_prepend(0::BIGINT, th),
                   (acc, h) -> (acc * 31 + h) % 2147483647) AS rolling_hash,
       list_min(th) AS min_tok_hash,
       list_max(th) AS max_tok_hash
FROM h
"""


# PII patterns shared by the Spark op and its oracle. Kept to the
# Java-regex ∩ RE2 common subset (no lookarounds, no backrefs) so
# both engines compile them identically.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}"


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the corpus-prep step that masks emails/phone
    numbers before training. The fixture text is synthetic word soup
    with no PII, so both engines first append a deterministic contact
    string derived from doc_id (the redaction kernel needs something
    to bite on every row); the kernel itself is two sequential
    regexp_replace passes, pure JVM codegen, a narrow map at 100 TB.
    Audit columns count the matches the masks consumed."""
    docs = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
    )
    return docs.withColumn("raw", raw).select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(PII_EMAIL), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(PII_PHONE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("raw", PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
        ).alias("redacted"),
    )


TEXT_PII_REDACT_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           text || ' contact user' || doc_id || '@mail.example.com or +1-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{PII_PHONE}')) AS BIGINT) AS n_phones,
       regexp_replace(regexp_replace(raw, '{PII_EMAIL}', '<EMAIL>', 'g'),
                      '{PII_PHONE}', '<PHONE>', 'g') AS redacted
FROM t
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (Gopher rep-removal shape):
    duplicate token-n-gram ratios and the most-frequent-token share.
    A doc whose trigrams are mostly repeats, or that is dominated by
    one token, is boilerplate/spam — cut before training.

    Gram ratios are pure array expressions (codegen, narrow map); the
    top-token share needs a per-(doc, token) count, done as explode +
    two hash aggregations — partial map-side combine on both, so at
    100 TB the shuffle carries (doc, token, partial-count) not raw
    tokens. Final assembly is a 1:1 equi-join on doc_id."""
    # Token array materialized ONCE per row: a lambda over an inline
    # split() re-evaluates the split per element (measured 8.8x on
    # the boilerplate op; same access pattern here).
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")

    def grams(n: int) -> Column:
        # NON-distinct n-grams: repetition is exactly what we count.
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])
        )

    def dup_ratio(g: Column) -> Column:
        return F.when(
            F.size(g) > 0,
            F.round(1.0 - F.size(F.array_distinct(g)) / F.size(g), 6),
        ).otherwise(F.lit(0.0))

    gram_side = docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        dup_ratio(grams(2)).alias("dup_bigram_ratio"),
        dup_ratio(grams(3)).alias("dup_trigram_ratio"),
    )
    top_side = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n"))
        .select(
            "doc_id", F.round(F.col("top_c") / F.col("n"), 6).alias("top_token_ratio")
        )
    )
    return gram_side.join(top_side, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_bigram_ratio",
        "dup_trigram_ratio",
        "top_token_ratio",
        (
            (F.col("dup_trigram_ratio") > 0.3) | (F.col("top_token_ratio") > 0.2)
        ).alias("repetitive"),
    )


TEXT_REPETITION_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
grams AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           [toks[i] || ' ' || toks[i+1]
            FOR i IN generate_series(1, greatest(len(toks) - 1, 0))] AS g2,
           [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
            FOR i IN generate_series(1, greatest(len(toks) - 2, 0))] AS g3
    FROM t
),
gram_side AS (
    SELECT doc_id,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           CASE WHEN len(g2) > 0
                THEN round(1.0 - len(list_distinct(g2)) * 1.0 / len(g2), 6)
                ELSE 0.0 END AS dup_bigram_ratio,
           CASE WHEN len(g3) > 0
                THEN round(1.0 - len(list_distinct(g3)) * 1.0 / len(g3), 6)
                ELSE 0.0 END AS dup_trigram_ratio
    FROM grams
),
tok_counts AS (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
    GROUP BY doc_id, tok
),
top_side AS (
    SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_token_ratio
    FROM tok_counts GROUP BY doc_id
)
SELECT g.doc_id, g.n_tokens, g.dup_bigram_ratio, g.dup_trigram_ratio,
       s.top_token_ratio,
       (g.dup_trigram_ratio > 0.3 OR s.top_token_ratio > 0.2) AS repetitive
FROM gram_side g JOIN top_side s ON g.doc_id = s.doc_id
"""


SPECS = [
    QuerySpec("text_tokens", text_tokens, TEXT_TOKENS_ORACLE),
    QuerySpec("text_quality", text_quality, TEXT_QUALITY_ORACLE),
    QuerySpec("text_lang_id", text_lang_id, _lang_id_oracle()),
    QuerySpec("text_fingerprint", text_fingerprint, TEXT_FINGERPRINT_ORACLE),
    QuerySpec("text_pii_redact", text_pii_redact, TEXT_PII_REDACT_ORACLE),
    QuerySpec(
        "text_repetition",
        text_repetition,
        TEXT_REPETITION_ORACLE,
    ),
]


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction + inverted index — the retrieval-side text
# surface (BM25-ish relevance needs exactly these statistics). No
# reference analog (the reference never tokenizes); north-star
# LLM-pipeline extensions over the documents fixture.
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3
INVINDEX_MIN_DF = 3
INVINDEX_POSTINGS_SHOWN = 8


def _term_stats(spark: SparkSession, sf_dir: str):
    """(doc_id, term) tf counts and per-term document frequencies.
    explode → two hash aggregates with map-side combine; the scale
    shape for corpus statistics (one shuffle keyed (doc_id, term),
    one keyed term)."""
    docs = load(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return tf, df_, n_docs


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: tfidf = tf * ln(N / df),
    ranked on the ROUNDED score (6 places) with the term as tiebreaker
    so both engines rank identically — the ln is libm-dependent in the
    last ulp, the round eats it. df join is term-keyed; N broadcasts
    as a one-row cross join."""
    tf, df_, n_docs = _term_stats(spark, sf_dir)
    scored = (
        tf.join(df_, "term")
        .crossJoin(n_docs)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf")
    )


TEXT_TFIDF_TOPK_ORACLE = f"""
WITH tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, rank, term, tf, df, tfidf FROM (
    SELECT doc_id, term, tf, df, tfidf,
           CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term
           ) AS INTEGER) AS rank
    FROM scored
) WHERE rank <= {TFIDF_TOP_K}
"""


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus: term → document frequency and
    the first 8 posting doc_ids (sorted, comma-joined — a bounded,
    deterministic rendering of the posting list). Terms below df=3 are
    dropped (the long tail that a real index would stopword/shard).
    One shuffle keyed term; collect_set stays bounded because fixture
    texts are short — at 100 TB the same plan shards by term."""
    tf, _df, _n = _term_stats(spark, sf_dir)
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_sort(F.collect_set("doc_id")).alias("plist"),
        )
        .filter(F.col("df") >= INVINDEX_MIN_DF)
        .select(
            "term",
            "df",
            F.array_join(
                F.transform(
                    F.slice("plist", 1, INVINDEX_POSTINGS_SHOWN),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head"),
        )
    )


TEXT_INVERTED_INDEX_ORACLE = f"""
WITH tf AS (
    SELECT doc_id, term
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
    GROUP BY doc_id, term
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
       array_to_string(list_sort(list(doc_id))[1:{INVINDEX_POSTINGS_SHOWN}], ',') AS postings_head
FROM tf
GROUP BY term
HAVING COUNT(*) >= {INVINDEX_MIN_DF}
"""

SPECS.append(
    QuerySpec(
        "text_tfidf_topk",
        text_tfidf_topk,
        TEXT_TFIDF_TOPK_ORACLE,
    )
)
SPECS.append(
    QuerySpec(
        "text_inverted_index",
        text_inverted_index,
        TEXT_INVERTED_INDEX_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — scores the corpus against a fixed literal
# query using the Okapi BM25 weighting over the same term statistics
# as text_tfidf_topk. Cross-engine determinism: every per-term score
# is rounded to 6 places and summed in DECIMAL(18,6) (order-free), so
# the libm last-ulp in ln() and double-sum reordering can never flip
# the hash. Rank on the final decimal score with doc_id tiebreak.
# ---------------------------------------------------------------------------

BM25_QUERY_TERMS = ("scan", "customer", "merge")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_N = 10


def _bm25_corpus(spark: SparkSession, sf_dir: str):
    """The documents with their length ``dl``, their exploded
    (doc_id, dl, term) postings and the one-row corpus stats
    (n_docs, sum_dl) that BM25 normalises by."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("dl"), "text"
    )
    postings = docs.select("doc_id", "dl", F.explode(F.split("text", " ")).alias("term"))
    stats = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    return docs, postings, stats


def _bm25_term_scores(hits: DataFrame, stats: DataFrame, name: str) -> DataFrame:
    """Okapi BM25 (k1, b = BM25_K1, BM25_B) term scores: one
    (doc_id, ``name``) row per (doc, query term) of ``hits``, the
    postings already restricted to the query terms. Each score is
    rounded to 6 places in DECIMAL so per-doc sums are order-free;
    df and the corpus stats broadcast."""
    tf = hits.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    term_score = idf * (
        F.col("tf") * (F.lit(BM25_K1) + 1)
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl)
        )
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(stats)
        .select("doc_id", F.round(term_score, 6).cast("decimal(18,6)").alias(name))
    )


def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for the literal query {scan, customer, merge}.
    Plan shape: one explode→filter→(doc,term) aggregate restricted to
    the 3 query terms (the filter pushes inside the explode stage, so
    the shuffle carries only matching postings — at 100 TB this is the
    'score a query against an indexed corpus' access path), df and
    corpus stats broadcast, narrow per-doc math, global top-10."""
    _, postings, stats = _bm25_corpus(spark, sf_dir)
    scored = (
        _bm25_term_scores(postings.filter(F.col("term").isin(*BM25_QUERY_TERMS)), stats, "ts")
        .groupBy("doc_id")
        .agg(F.sum("ts").alias("score_dec"))
    )
    # TakeOrdered top-N first (no global sort / single-partition
    # window over the corpus); the rank window then runs over 10 rows.
    top = scored.orderBy(F.desc("score_dec"), "doc_id").limit(BM25_TOP_N)
    w = Window.orderBy(F.desc("score_dec"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "rank", F.col("score_dec").cast("double").alias("bm25")
    )


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
WITH docs AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS dl, text
    FROM documents
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(string_split(text, ' ')) AS term FROM docs)
    WHERE term IN ({terms})
    GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc_id,
           SUM(CAST(round(
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (tf.tf * ({BM25_K1} + 1)
                  / (tf.tf + {BM25_K1}
                     * (1.0 - {BM25_B} + {BM25_B} * tf.dl
                        / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))), 6)
             AS DECIMAL(18,6))) AS score_dec
    FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
    GROUP BY tf.doc_id
)
SELECT doc_id, rank, CAST(score_dec AS DOUBLE) AS bm25 FROM (
    SELECT doc_id, score_dec,
           CAST(row_number() OVER (ORDER BY score_dec DESC, doc_id) AS INTEGER) AS rank
    FROM scored
) WHERE rank <= {BM25_TOP_N}
"""


SPECS.append(
    QuerySpec(
        "text_bm25_search",
        text_bm25_search,
        _bm25_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Model-based quality filtering (fixed-weight linear classifier)
# ---------------------------------------------------------------------------

# Fixed, public classifier weights (fasttext-style quality filter
# shape: cheap engineered features -> linear score -> squash -> gate).
_QW_BIAS = -0.2
_QW_TTR = 4.0       # type-token ratio, centered at 0.5
_QW_TOKENS = 0.02   # token count, centered at 50
_QW_STOP = -6.0     # stopword ratio, centered at 0.08


def text_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality CLASSIFIER over engineered features — the
    model-based stage after the rule-based ``text_quality`` pass
    (CCNet/fasttext-filter shape: features → w·x → squash → keep).

    The squash is the RATIONAL sigmoid σ(z) = 0.5 + 0.5·z/(1+|z|),
    not exp-based logistic: both engines evaluate it with the same
    IEEE-754 ops in the same order, so scores are bit-identical,
    whereas libm exp() implementations may differ by an ulp across
    runtimes and break the hash gate. Same monotonicity, same
    decision boundary (score ≥ 0.5 ⇔ z ≥ 0).

    One narrow projection over the scan — no shuffle, whole-stage
    codegen; at 100 TB this fuses into the corpus read like every
    other cheap-filter pass."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) / n
    stop_ratio = _stopword_hits(toks) / n
    z = (
        F.lit(_QW_BIAS)
        + F.lit(_QW_TTR) * (ttr - F.lit(0.5))
        + F.lit(_QW_TOKENS) * (n.cast("double") - F.lit(50.0))
        + F.lit(_QW_STOP) * (stop_ratio - F.lit(0.08))
    )
    score = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
    return docs.select(
        "doc_id",
        "source",
        F.round(ttr, 6).alias("ttr"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        # + 0.0 canonicalizes IEEE −0.0 (a z in (−5e-7, 0) rounds to
        # the zero whose SIGN differs between engines' round())
        (F.round(z, 6) + F.lit(0.0)).alias("logit"),
        F.round(score, 6).alias("score"),
        (z >= 0).alias("keep"),
    )


TEXT_QUALITY_LOGREG_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
f AS (
    SELECT doc_id, source,
           len(list_distinct(toks)) * 1.0 / len(toks) AS ttr,
           len(list_filter(toks, x -> list_contains({_SQL_STOPS}, x))) * 1.0
               / len(toks) AS stop_ratio,
           CAST(len(toks) AS DOUBLE) AS n
    FROM t
),
z AS (
    SELECT doc_id, source, ttr, stop_ratio,
           {_QW_BIAS} + {_QW_TTR} * (ttr - 0.5) + {_QW_TOKENS} * (n - 50.0)
               + {_QW_STOP} * (stop_ratio - 0.08) AS logit
    FROM f
)
SELECT doc_id, source,
       round(ttr, 6) AS ttr,
       round(stop_ratio, 6) AS stopword_ratio,
       round(logit, 6) + 0.0 AS logit,
       round(0.5 + 0.5 * logit / (1.0 + abs(logit)), 6) AS score,
       logit >= 0 AS keep
FROM z
"""

SPECS.append(
    QuerySpec(
        "text_quality_logreg",
        text_quality_logreg,
        TEXT_QUALITY_LOGREG_ORACLE,
    )
)


CHUNK_WORDS = 10  # contiguous-word chunk size ("line" analog)
CHUNK_MIN_DOCS = 2  # a chunk repeated across >= this many docs is boilerplate


def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level (paragraph) dedup, the CCNet / RefinedWeb repeated-
    line removal signal: chunks of CHUNK_WORDS consecutive words that
    appear verbatim in >= CHUNK_MIN_DOCS distinct docs are boilerplate
    and removed from every doc; the cleaned text is reassembled in
    original order. (The fixture text has no newlines, so fixed-width
    word windows stand in for lines — same pipeline shape.)

    Scale shape: explode -> one groupBy on the chunk text (the global
    duplicate census), one shuffle-hash join back, one groupBy doc_id
    to reassemble. No driver-side state; at 100 TB the chunk census is
    the same map-side-combinable aggregate Spark uses for any heavy-
    hitter count. All JVM expressions (split / slice / posexplode /
    collect_list) — no Python in the hot path.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(CHUNK_WORDS))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * CHUNK_WORDS + 1, CHUNK_WORDS), " "
        ),
    )
    ch = docs.select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))
    dup = (
        ch.groupBy("chunk")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= CHUNK_MIN_DOCS)
        .select("chunk", F.lit(1).alias("is_dup"))
    )
    joined = ch.join(dup, "chunk", "left")
    kept_structs = F.array_sort(
        F.collect_list(  # collect_list drops the NULLed dup chunks
            F.when(F.col("is_dup").isNull(), F.struct("pos", "chunk"))
        )
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.count("is_dup").cast("int").alias("n_dup_chunks"),
            kept_structs.alias("kept"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.when(
                F.size("kept") > 0,
                F.array_join(F.transform("kept", lambda s: s.chunk), " "),
            ).alias("kept_text"),
        )
    )


TEXT_CHUNK_DEDUP_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
ch AS (
    SELECT doc_id, i AS pos,
           array_to_string(t[(i*{CHUNK_WORDS}+1):(i*{CHUNK_WORDS}+{CHUNK_WORDS})], ' ') AS chunk
    FROM w, unnest(generate_series(0, CAST(ceil(len(t)/{CHUNK_WORDS}.0) AS BIGINT) - 1)) AS g(i)
),
dup AS (
    SELECT chunk FROM ch GROUP BY chunk
    HAVING COUNT(DISTINCT doc_id) >= {CHUNK_MIN_DOCS}
)
SELECT ch.doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_chunks,
       CAST(COUNT(d.chunk) AS INTEGER) AS n_dup_chunks,
       string_agg(CASE WHEN d.chunk IS NULL THEN ch.chunk END, ' ' ORDER BY pos) AS kept_text
FROM ch LEFT JOIN dup d USING (chunk)
GROUP BY ch.doc_id
"""

SPECS.append(
    QuerySpec(
        "text_chunk_dedup",
        text_chunk_dedup,
        TEXT_CHUNK_DEDUP_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# text_collocations — PMI bigram collocation mining
# ---------------------------------------------------------------------------

COLLOC_MIN_COUNT = 5
COLLOC_TOP_K = 20


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-20 adjacent-token bigrams by
    pointwise mutual information, ``PMI = log2(c_ab·N / (c_a·c_b))``
    with a min-count support floor — the classic corpus-linguistics
    signal for multi-word expressions ("new york") that raw bigram
    counts (dominated by stopword pairs) miss.

    Determinism: counts are exact BIGINTs; PMI is ONE log2 per
    output row over an integer ratio, rounded 6dp (the same
    last-ulp acceptance as the TF-IDF/BM25 oracles — no float is
    ever summed). Scale: bigram explode is a narrow map; two hash
    aggregations (bigram counts, unigram counts) with map-side
    combine; unigram counts join the candidate bigrams — a
    dimension-vocabulary join, broadcast-eligible; final top-k is
    TakeOrderedAndProject."""
    # token array materialized once per row (inline split in a
    # lambda re-evaluates per element — see the shingle kernel note)
    docs = load(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    bigrams = docs.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(toks, i).alias("w1"),
                    F.element_at(toks, i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    unigrams = docs.select(F.explode(toks).alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c_w")
    )
    bg_counts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    n_total = bg_counts.agg(F.sum("c_ab").alias("n_bigrams"))
    cand = bg_counts.filter(F.col("c_ab") >= COLLOC_MIN_COUNT)
    u1 = unigrams.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))
    u2 = unigrams.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))
    scored = (
        cand.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(n_total)
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.col("c_a").cast("bigint").alias("c_a"),
            F.col("c_b").cast("bigint").alias("c_b"),
            F.round(
                F.log2(
                    (F.col("c_ab").cast("double") * F.col("n_bigrams"))
                    / (F.col("c_a").cast("double") * F.col("c_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(COLLOC_TOP_K)


TEXT_COLLOCATIONS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bigrams AS (
    SELECT t[i] AS w1, t[i+1] AS w2
    FROM toks, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
    )
),
unigrams AS (
    SELECT w, COUNT(*) AS c_w
    FROM (SELECT unnest(t) AS w FROM toks)
    GROUP BY w
),
bg AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bigrams GROUP BY w1, w2),
n AS (SELECT SUM(c_ab) AS n_bigrams FROM bg),
scored AS (
    SELECT b.w1, b.w2,
           CAST(b.c_ab AS BIGINT) AS c_ab,
           CAST(a.c_w AS BIGINT) AS c_a,
           CAST(c.c_w AS BIGINT) AS c_b,
           round(log2((CAST(b.c_ab AS DOUBLE) * n.n_bigrams)
                      / (CAST(a.c_w AS DOUBLE) * c.c_w)), 6) AS pmi
    FROM bg b
    JOIN unigrams a ON b.w1 = a.w
    JOIN unigrams c ON b.w2 = c.w
    CROSS JOIN n
    WHERE b.c_ab >= {COLLOC_MIN_COUNT}
)
SELECT * FROM scored
ORDER BY pmi DESC, w1, w2
LIMIT {COLLOC_TOP_K}
"""

SPECS.append(
    QuerySpec(
        "text_collocations",
        text_collocations,
        TEXT_COLLOCATIONS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# text_readability — Flesch reading ease / FK grade (syllable proxy)
# ---------------------------------------------------------------------------


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring: Flesch reading ease and Flesch-Kincaid
    grade per document, with the classic deterministic syllable
    proxy (vowel-group count — the standard cheap stand-in when no
    pronunciation dictionary ships with the engine). Complements
    ``text_quality``'s length/stopword signals with the
    sentence-structure axis corpus filters use for education-level
    binning.

    All counts are exact integers from JVM regexes (whole-stage
    codegen, no Python); the two formulas combine three integer
    ratios with IDENTICAL literals and operation order in both
    engines, rounded 6dp. One narrow projection over the scan —
    trivially scan-parallel at any scale."""
    docs = load(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all("text", F.lit("[.!?]"), 0))
    )
    n_syll = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)),
    )
    wps = n_words.cast("double") / n_sent
    spw = n_syll.cast("double") / n_words
    return docs.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        n_sent.cast("int").alias("n_sentences"),
        n_syll.cast("int").alias("n_syllables"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ).alias("flesch_ease"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade"),
    )


TEXT_READABILITY_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
       CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
            AS INTEGER) AS n_sentences,
       CAST(greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))
            AS INTEGER) AS n_syllables,
       round(206.835
             - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
                        / greatest(1, len(regexp_extract_all(text, '[.!?]'))))
             - 84.6 * (CAST(greatest(1, len(regexp_extract_all(lower(text),
                                                               '[aeiouy]+')))
                            AS DOUBLE)
                       / len(string_split(text, ' '))), 6) AS flesch_ease,
       round(0.39 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
                     / greatest(1, len(regexp_extract_all(text, '[.!?]'))))
             + 11.8 * (CAST(greatest(1, len(regexp_extract_all(lower(text),
                                                               '[aeiouy]+')))
                            AS DOUBLE)
                       / len(string_split(text, ' ')))
             - 15.59, 6) AS fk_grade
FROM documents
"""

SPECS.append(
    QuerySpec(
        "text_readability",
        text_readability,
        TEXT_READABILITY_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# text_keyword_rake — RAKE keyword extraction (top phrases per doc)
# ---------------------------------------------------------------------------

_RAKE_TOP = 3


def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; a word scores
    ``deg(w)/freq(w)`` over the whole corpus (deg = summed length of
    phrases it appears in, freq = occurrences); a phrase scores the
    sum of its word scores; report the top-3 distinct phrases per
    document — the keyword surface a corpus index/card builds.

    Determinism: word scores are ``round(deg/freq, 12)`` DECIMALs, so
    phrase scores are exact order-free DECIMAL sums; ranking breaks
    exact score ties by phrase text. Scale: phrase segmentation is a
    per-document window (partitioned, no global sort), corpus word
    stats are two hash aggregations with map-side combine, and the
    top-k is a per-document rank window — every shuffle is keyed by
    doc or word, never a single partition."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    wseg = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = toks.select(
        "doc_id",
        "pos",
        "w",
        F.sum(F.col("w").isin(STOPWORDS).cast("int")).over(wseg).alias("phrase_id"),
    ).filter(~F.col("w").isin(STOPWORDS))
    # (b) scans 1 -> 2 and shuffles 2 -> 6 without it
    occ = persist(seg.select("doc_id", "phrase_id", "pos", "w"))
    plen = occ.groupBy("doc_id", "phrase_id").agg(F.count(F.lit(1)).alias("plen"))
    wstat = (
        occ.join(plen, ["doc_id", "phrase_id"])
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
        .select(
            "w",
            F.round(F.col("deg").cast("double") / F.col("freq"), 12)
            .cast("decimal(24,12)")
            .alias("wscore"),
        )
    )
    phrases = (
        occ.join(wstat, "w")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s.w,
                ),
                " ",
            ).alias("phrase"),
            F.sum("wscore").alias("score"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .groupBy("doc_id", "phrase")
        .agg(F.max("score").alias("score"), F.max("n_words").alias("n_words"))
    )
    ranked = phrases.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("score").desc(), F.col("phrase")
            )
        ),
    ).filter(F.col("rk") <= _RAKE_TOP)
    return ranked.select(
        "doc_id",
        F.col("rk").cast("int").alias("rk"),
        "phrase",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round(F.col("score").cast("double"), 6).alias("score"),
    )


def _rake_oracle() -> str:
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH toks AS MATERIALIZED (
    SELECT doc_id,
           unnest(generate_series(1, len(string_split(text, ' ')))) AS pos,
           unnest(string_split(text, ' ')) AS w
    FROM documents
),
seg AS MATERIALIZED (
    SELECT doc_id, pos, w,
           SUM(CASE WHEN w IN ({stop}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS phrase_id
    FROM toks WHERE w <> ''
),
occ AS MATERIALIZED (
    SELECT doc_id, phrase_id, pos, w FROM seg WHERE w NOT IN ({stop})
),
plen AS (
    SELECT doc_id, phrase_id, COUNT(*) AS plen
    FROM occ GROUP BY doc_id, phrase_id
),
wstat AS (
    SELECT w, CAST(round(CAST(SUM(plen) AS DOUBLE) / COUNT(*), 12)
                   AS DECIMAL(24,12)) AS wscore
    FROM occ JOIN plen USING (doc_id, phrase_id)
    GROUP BY w
),
phrases AS (
    SELECT doc_id, phrase, MAX(score) AS score, MAX(n_words) AS n_words
    FROM (
        SELECT o.doc_id, o.phrase_id,
               string_agg(o.w, ' ' ORDER BY o.pos) AS phrase,
               SUM(ws.wscore) AS score,
               COUNT(*) AS n_words
        FROM occ o JOIN wstat ws ON o.w = ws.w
        GROUP BY o.doc_id, o.phrase_id
    ) GROUP BY doc_id, phrase
),
ranked AS (
    SELECT doc_id, phrase, n_words, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, phrase) AS rk
    FROM phrases
)
SELECT doc_id, CAST(rk AS INT) AS rk, phrase,
       CAST(n_words AS BIGINT) AS n_words,
       round(CAST(score AS DOUBLE), 6) AS score
FROM ranked WHERE rk <= {_RAKE_TOP}
"""


SPECS.append(
    QuerySpec(
        "text_keyword_rake",
        text_keyword_rake,
        _rake_oracle(),
    )
)


# ---------------------------------------------------------------------------
# text_hashing_vectorizer — feature hashing (the hashing trick)
# ---------------------------------------------------------------------------

_HV_DIM = 64  # fixed feature dimension (vocabulary-free)


def text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (Weinberger et al., ICML 2009) of each
    document into a fixed ``D=64``-dimensional sparse vector:
    bucket = ``h32(token) mod D``, sign from the next hash bit, value
    = signed token-count sum — the vocabulary-FREE vectorization step
    feeding a linear classifier (cf. ``text_quality_logreg``). No
    dictionary is built or broadcast, which is the point at 100 TB:
    unbounded vocabulary, bounded feature space, fully map-side until
    the one (doc, bucket) aggregation. Emits nonzero buckets as
    sparse rows plus each doc's nonzero count; all values are exact
    integers via the shared md5-prefix hash kernel."""
    from ._helpers import h32  # noqa: PLC0415

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    h = h32(F.col("w"))
    signed = toks.select(
        "doc_id",
        (h % _HV_DIM).cast("int").alias("bucket"),
        (F.when((h % (2 * _HV_DIM)) >= _HV_DIM, -1).otherwise(1)).alias("sgn"),
    )
    vec = (
        signed.groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").alias("val"))
        .filter(F.col("val") != 0)
    )
    nnz = vec.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nnz"))
    return (
        vec.join(nnz, "doc_id")
        .select(
            "doc_id",
            "bucket",
            F.col("val").cast("bigint").alias("val"),
            F.col("nnz").cast("bigint").alias("nnz"),
        )
        .orderBy("doc_id", "bucket")
    )


H32_SQL = "('0x' || substring(md5({x}), 1, 8))::BIGINT"  # shared kernel twin

TEXT_HASHING_VECTORIZER_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
signed AS (
    SELECT doc_id,
           CAST({H32_SQL.format(x="w")} % {_HV_DIM} AS INT) AS bucket,
           CASE WHEN {H32_SQL.format(x="w")} % {2 * _HV_DIM} >= {_HV_DIM}
                THEN -1 ELSE 1 END AS sgn
    FROM toks WHERE w <> ''
),
vec AS (
    SELECT doc_id, bucket, SUM(sgn) AS val
    FROM signed GROUP BY doc_id, bucket
    HAVING SUM(sgn) <> 0
),
nnz AS (SELECT doc_id, COUNT(*) AS nnz FROM vec GROUP BY doc_id)
SELECT v.doc_id, v.bucket, CAST(v.val AS BIGINT) AS val,
       CAST(n.nnz AS BIGINT) AS nnz
FROM vec v JOIN nnz n ON v.doc_id = n.doc_id
ORDER BY v.doc_id, bucket
"""

SPECS.append(
    QuerySpec(
        "text_hashing_vectorizer",
        text_hashing_vectorizer,
        TEXT_HASHING_VECTORIZER_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# sim_rrf_fusion — hybrid retrieval via reciprocal rank fusion
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
_RRF_POOL = 20  # per-system candidate pool
_RRF_TOP = 10


def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 (lexical) and token-Jaccard (set-overlap
    proxy for the dense leg) rankings for the SAME query, fused with
    reciprocal rank fusion ``score(d) = Σ_sys 1/(k + rank_sys(d))``
    (Cormack et al., SIGIR 2009; k=60) — the standard hybrid-RAG
    merge that needs no score calibration because it only consumes
    RANKS. Each system contributes its top-20 pool
    (TakeOrderedAndProject, no global sort); pools full-outer-join on
    doc_id; each RRF term is an exact ``round(1/(k+rank), 12)``
    DECIMAL so fused scores sum order-free; final top-10 breaks exact
    ties by doc_id. At 100 TB each leg is the indexed-retrieval
    access path (posting-list shuffle for BM25, candidate-pruned for
    the dense leg) and the fusion itself touches only 2×20 rows."""
    docs, postings, stats = _bm25_corpus(spark, sf_dir)
    bm25 = (
        _bm25_term_scores(postings.filter(F.col("term").isin(*BM25_QUERY_TERMS)), stats, "ts")
        .groupBy("doc_id")
        .agg(F.sum("ts").alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(_RRF_POOL)
        .withColumn(
            "rank_bm25",
            F.row_number().over(Window.orderBy(F.desc("s"), "doc_id")),
        )
        .select("doc_id", "rank_bm25")
    )
    q = F.array(*[F.lit(t) for t in BM25_QUERY_TERMS])
    jac = (
        docs.select(
            "doc_id",
            F.size(F.array_intersect(F.array_distinct(F.split("text", " ")), q)).alias(
                "inter"
            ),
            F.size(F.array_distinct(F.split("text", " "))).alias("nd"),
        )
        .select(
            "doc_id",
            (
                F.col("inter").cast("double")
                / (F.col("nd") + F.lit(len(BM25_QUERY_TERMS)) - F.col("inter"))
            ).alias("s"),
        )
        .orderBy(F.desc("s"), "doc_id")
        .limit(_RRF_POOL)
        .withColumn(
            "rank_jac",
            F.row_number().over(Window.orderBy(F.desc("s"), "doc_id")),
        )
        .select("doc_id", "rank_jac")
    )

    def rrf(rank_col: str) -> F.Column:
        return F.when(
            F.col(rank_col).isNotNull(),
            F.round(F.lit(1.0) / (F.lit(_RRF_K) + F.col(rank_col)), 12),
        ).otherwise(F.lit(0)).cast("decimal(14,12)")

    fused = (
        bm25.join(jac, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_bm25",
            "rank_jac",
            (rrf("rank_bm25") + rrf("rank_jac")).alias("rrf_dec"),
        )
        .orderBy(F.desc("rrf_dec"), "doc_id")
        .limit(_RRF_TOP)
    )
    return fused.select(
        F.row_number()
        .over(Window.orderBy(F.desc("rrf_dec"), "doc_id"))
        .alias("rk"),
        "doc_id",
        F.col("rrf_dec").cast("double").alias("rrf_score"),
        F.col("rank_bm25").cast("int").alias("rank_bm25"),
        F.col("rank_jac").cast("int").alias("rank_jac"),
    )


def _rrf_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    nq = len(BM25_QUERY_TERMS)
    return f"""
WITH docs AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS dl, text
    FROM documents
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(string_split(text, ' ')) AS term FROM docs)
    WHERE term IN ({terms})
    GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
bm25_scored AS (
    SELECT tf.doc_id,
           SUM(CAST(round(
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (tf.tf * ({BM25_K1} + 1)
                  / (tf.tf + {BM25_K1}
                     * (1.0 - {BM25_B} + {BM25_B} * tf.dl
                        / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))), 6)
             AS DECIMAL(18,6))) AS s
    FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
    GROUP BY tf.doc_id
),
bm25 AS (
    SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INTEGER)
           AS rank_bm25
    FROM bm25_scored ORDER BY s DESC, doc_id LIMIT {_RRF_POOL}
),
jac_scored AS (
    SELECT doc_id,
           CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                   [{terms}])) AS DOUBLE)
           / (len(list_distinct(string_split(text, ' '))) + {nq}
              - len(list_intersect(list_distinct(string_split(text, ' ')),
                                   [{terms}]))) AS s
    FROM docs
),
jac AS (
    SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INTEGER)
           AS rank_jac
    FROM jac_scored ORDER BY s DESC, doc_id LIMIT {_RRF_POOL}
),
fused AS (
    SELECT COALESCE(b.doc_id, j.doc_id) AS doc_id, b.rank_bm25, j.rank_jac,
           (CASE WHEN b.rank_bm25 IS NOT NULL THEN
                CAST(round(1.0 / ({_RRF_K} + b.rank_bm25), 12) AS DECIMAL(14,12))
                ELSE CAST(0 AS DECIMAL(14,12)) END
            + CASE WHEN j.rank_jac IS NOT NULL THEN
                CAST(round(1.0 / ({_RRF_K} + j.rank_jac), 12) AS DECIMAL(14,12))
                ELSE CAST(0 AS DECIMAL(14,12)) END) AS rrf_dec
    FROM bm25 b FULL OUTER JOIN jac j ON b.doc_id = j.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY rrf_dec DESC, doc_id) AS INTEGER) AS rk,
       doc_id, CAST(rrf_dec AS DOUBLE) AS rrf_score,
       rank_bm25, rank_jac
FROM fused ORDER BY rrf_dec DESC, doc_id LIMIT {_RRF_TOP}
"""


SPECS.append(
    QuerySpec(
        "sim_rrf_fusion",
        sim_rrf_fusion,
        _rrf_oracle(),
    )
)


# ---------------------------------------------------------------------------
# analytic_ndcg — NDCG@10 of the BM25 ranking vs graded relevance
# ---------------------------------------------------------------------------

_NDCG_AT = 10


def analytic_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking under a deterministic graded-
    relevance rule (grade = how many distinct query terms the doc
    contains, 0–3) — the retrieval-evaluation companion of
    ``analytic_auc``/``analytic_avg_precision`` and the metric a RAG
    stack tracks per release. ``DCG = Σ (2^g − 1)/log2(rank+1)`` over
    the returned ranking; the IDEAL DCG needs no global sort: grades
    have a 4-value domain, so the best-possible top-10 is read off
    the per-grade COUNT histogram (highest grades fill the first
    ranks). Each DCG term is ``round(·, 12)`` DECIMAL (the last-ulp
    log2 argument), so both sums are order-free exact; gains 2^g−1
    are exact integers."""
    docs, postings, stats = _bm25_corpus(spark, sf_dir)
    grade = F.size(
        F.array_intersect(
            F.array_distinct(F.split("text", " ")),
            F.array(*[F.lit(t) for t in BM25_QUERY_TERMS]),
        )
    )
    graded = docs.select("doc_id", grade.alias("g"))
    ranking = (
        _bm25_term_scores(postings.filter(F.col("term").isin(*BM25_QUERY_TERMS)), stats, "s")
        .groupBy("doc_id")
        .agg(F.sum("s").alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(_NDCG_AT)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(F.desc("s"), "doc_id"))
        )
    )
    dcg_term = F.round(
        (F.pow(F.lit(2.0), F.col("g")) - 1)
        / F.log2(F.col("rank").cast("double") + 1),
        12,
    ).cast("decimal(24,12)")
    dcg = (
        ranking.join(graded, "doc_id")
        .select(dcg_term.alias("t"))
        .agg(F.sum("t").alias("dcg"))
    )
    # ideal DCG from the grade histogram: ranks 1..10 consume grades
    # in descending order; rank boundaries come from cumulative counts.
    gh = graded.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy(F.col("g").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    ideal_rows = gh.select(
        "g",
        F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("before"),
        F.col("c"),
    ).select(
        "g",
        F.greatest(F.col("before") + 1, F.lit(1)).alias("r_lo"),
        F.least(F.col("before") + F.col("c"), F.lit(_NDCG_AT)).alias("r_hi"),
    ).filter(F.col("r_lo") <= F.lit(_NDCG_AT))
    ideal_terms = ideal_rows.select(
        "g", F.explode(F.sequence(F.col("r_lo"), F.col("r_hi"))).alias("rank")
    ).select(
        F.round(
            (F.pow(F.lit(2.0), F.col("g")) - 1)
            / F.log2(F.col("rank").cast("double") + 1),
            12,
        )
        .cast("decimal(24,12)")
        .alias("t")
    )
    idcg = ideal_terms.agg(F.sum("t").alias("idcg"))
    return dcg.crossJoin(idcg).select(
        F.col("dcg").cast("double").alias("dcg"),
        F.col("idcg").cast("double").alias("idcg"),
        F.round(
            F.col("dcg").cast("double") / F.col("idcg").cast("double"), 6
        ).alias("ndcg"),
    )


def _ndcg_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
WITH docs AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS dl, text
    FROM documents
),
graded AS (
    SELECT doc_id,
           len(list_intersect(list_distinct(string_split(text, ' ')),
                              [{terms}])) AS g
    FROM docs
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(string_split(text, ' ')) AS term FROM docs)
    WHERE term IN ({terms})
    GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc_id,
           SUM(CAST(round(
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (tf.tf * ({BM25_K1} + 1)
                  / (tf.tf + {BM25_K1}
                     * (1.0 - {BM25_B} + {BM25_B} * tf.dl
                        / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))), 6)
             AS DECIMAL(18,6))) AS s
    FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
    GROUP BY tf.doc_id
),
ranking AS (
    SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INTEGER)
           AS rank
    FROM scored ORDER BY s DESC, doc_id LIMIT {_NDCG_AT}
),
dcg AS (
    SELECT SUM(CAST(round((pow(2.0, g.g) - 1) / log2(r.rank + 1.0), 12)
               AS DECIMAL(24,12))) AS dcg
    FROM ranking r JOIN graded g USING (doc_id)
),
gh AS (SELECT g, COUNT(*) AS c FROM graded GROUP BY g),
bounds AS (
    SELECT g,
           CAST(GREATEST(COALESCE(SUM(c) OVER (ORDER BY g DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1, 1)
               AS BIGINT) AS r_lo,
           CAST(LEAST(COALESCE(SUM(c) OVER (ORDER BY g DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c,
               {_NDCG_AT}) AS BIGINT) AS r_hi
    FROM gh
),
ideal AS (
    SELECT SUM(CAST(round((pow(2.0, g) - 1) / log2(rank + 1.0), 12)
               AS DECIMAL(24,12))) AS idcg
    FROM (SELECT g, unnest(generate_series(r_lo, r_hi)) AS rank
          FROM bounds WHERE r_lo <= {_NDCG_AT})
)
SELECT CAST(dcg AS DOUBLE) AS dcg, CAST(idcg AS DOUBLE) AS idcg,
       round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS ndcg
FROM dcg CROSS JOIN ideal
"""


SPECS.append(
    QuerySpec(
        "analytic_ndcg",
        analytic_ndcg,
        _ndcg_oracle(),
    )
)


# ---------------------------------------------------------------------------
# text_boilerplate_fraction — corpus-frequent shingle share per doc
# ---------------------------------------------------------------------------

_BP_N = 5  # shingle width
_BP_DF = 5  # a shingle in >= this many DISTINCT docs is boilerplate


def text_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate share per document: the fraction of a doc's
    distinct 5-gram shingles that occur in ≥5 OTHER documents —
    headers, footers, license blurbs and templates that repeat
    ACROSS the corpus (the CCNet/RefinedWeb boilerplate signal;
    complementary to ``text_repetition``'s intra-doc repeats and
    ``dedup_substring_spans``' pairwise spans). Docs above 50%
    boilerplate get the drop flag a corpus-prep pass consumes.

    Shape: one shingle explode → distinct (doc, shingle) →
    document-frequency hash aggregation; scoring joins the exploded
    shingles back to their df (hash join — the shingle dictionary
    outgrows broadcast at corpus scale) and reduces per doc. Counts
    are exact integers; the fraction divides two BIGINTs."""
    # Materialize the token array ONCE per row (a lambda over an
    # inline split() re-evaluates the split per element), then build
    # the distinct shingle relation a single time for both the
    # document-frequency pass and the scoring join.
    toked = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    idx = F.when(
        F.size("toks") >= _BP_N,
        F.sequence(F.lit(1), F.size("toks") - (_BP_N - 1)),
    ).otherwise(F.array().cast("array<int>"))
    # (b) scans 1 -> 2 without it
    shingles = persist(toked.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ",
                        *[F.element_at(F.col("toks"), i + j) for j in range(_BP_N)],
                    ),
                )
            )
        ).alias("sh"),
    ))
    df_ = shingles.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        shingles.join(df_, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") >= _BP_DF).cast("bigint")).alias("n_boiler"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_boiler").cast("bigint").alias("n_boiler"),
        F.round(
            F.col("n_boiler").cast("double") / F.col("n_shingles"), 6
        ).alias("boiler_frac"),
        (
            F.col("n_boiler").cast("double") / F.col("n_shingles") > 0.5
        ).alias("drop_flag"),
    )


TEXT_BOILERPLATE_FRACTION_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           array_to_string(t[i : i + {_BP_N - 1}], ' ') AS sh
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, len(t) - {_BP_N - 1})) AS i
          FROM toks WHERE len(t) >= {_BP_N})
),
dfreq AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
scored AS (
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           SUM(CASE WHEN d.df >= {_BP_DF} THEN 1 ELSE 0 END) AS n_boiler
    FROM sh s JOIN dfreq d USING (sh)
    GROUP BY s.doc_id
)
SELECT doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_boiler AS BIGINT) AS n_boiler,
       round(CAST(n_boiler AS DOUBLE) / n_shingles, 6) AS boiler_frac,
       CAST(n_boiler AS DOUBLE) / n_shingles > 0.5 AS drop_flag
FROM scored
"""

SPECS.append(
    QuerySpec(
        "text_boilerplate_fraction",
        text_boilerplate_fraction,
        TEXT_BOILERPLATE_FRACTION_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dq_langid_confusion — confusion matrix of the lang-ID heuristic
# ---------------------------------------------------------------------------


def dq_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of ``text_lang_id``'s prediction against the
    documents table's ground-truth ``lang`` label — the per-class
    evaluation artifact (cell counts + class recall/precision
    denominators) a model gate reads before trusting the classifier
    on new data. Reuses the lang-ID plan and reduces it with one
    (actual, predicted) hash aggregation plus two broadcast marginal
    joins; everything but the one rate column is an exact BIGINT."""
    pred = text_lang_id(spark, sf_dir).select(
        F.col("lang").alias("actual"), F.col("predicted_lang").alias("predicted")
    )
    cells = pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    atot = cells.groupBy("actual").agg(F.sum("n").alias("actual_total"))
    ptot = cells.groupBy("predicted").agg(F.sum("n").alias("pred_total"))
    return (
        cells.join(F.broadcast(atot), "actual")
        .join(F.broadcast(ptot), "predicted")
        .select(
            "actual",
            "predicted",
            F.col("n").cast("bigint").alias("n"),
            F.col("actual_total").cast("bigint").alias("actual_total"),
            F.col("pred_total").cast("bigint").alias("pred_total"),
            F.round(F.col("n").cast("double") / F.col("actual_total"), 6).alias(
                "row_rate"
            ),
        )
        .orderBy("actual", "predicted")
    )


def _langid_confusion_oracle() -> str:
    return f"""
WITH pred AS ({_lang_id_oracle()}),
cells AS (
    SELECT lang AS actual, predicted_lang AS predicted, COUNT(*) AS n
    FROM pred GROUP BY 1, 2
),
atot AS (SELECT actual, SUM(n) AS actual_total FROM cells GROUP BY actual),
ptot AS (SELECT predicted, SUM(n) AS pred_total FROM cells GROUP BY predicted)
SELECT c.actual, c.predicted, CAST(c.n AS BIGINT) AS n,
       CAST(a.actual_total AS BIGINT) AS actual_total,
       CAST(p.pred_total AS BIGINT) AS pred_total,
       round(CAST(c.n AS DOUBLE) / a.actual_total, 6) AS row_rate
FROM cells c JOIN atot a USING (actual) JOIN ptot p USING (predicted)
ORDER BY actual, predicted
"""


SPECS.append(
    QuerySpec(
        "dq_langid_confusion",
        dq_langid_confusion,
        _langid_confusion_oracle(),
    )
)


# ---------------------------------------------------------------------------
# text_zipf_fit — rank-frequency power-law fit over the vocabulary
# ---------------------------------------------------------------------------


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ``log2(freq)`` on ``log2(rank)`` — the corpus-statistics
    scorecard (natural text sits near slope −1; a synthetic or
    template-heavy corpus deviates, so the slope is a cheap
    distribution fingerprint next to ``dq_entropy_profile``).

    Ranks are deterministic integers (frequency desc, token asc);
    each log term is ``round(log2(·), 12)`` DECIMAL, the OLS moments
    are exact DECIMAL sums of those rounded terms, and the slope/
    intercept/r² are one fixed double sequence — the same recipe as
    ``agg_linreg``. Shape: one token hash aggregation, one
    vocabulary-sized rank window, one moment reduce."""
    docs = load(spark, sf_dir, "documents").select("text")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # The Zipf regression needs the rank of EVERY vocabulary term (no
    # top-k shortcut), and vocabulary is unbounded at corpus scale —
    # distributed exact rank via global_order (r5), not an
    # unpartitioned row_number window (single-task sort).
    from ._helpers import global_order  # noqa: PLC0415

    ranked = global_order(
        vocab, -F.col("freq"), (F.col("w"),), rank_col="rank"
    )
    terms = ranked.select(
        F.round(F.log2("rank"), 12).cast("decimal(24,12)").alias("x"),
        F.round(F.log2("freq"), 12).cast("decimal(24,12)").alias("y"),
    )
    m = terms.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r2 = (r_num * r_num) / (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("n").cast("bigint").alias("vocab_size"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("log2_c"),
        F.round(r2, 6).alias("r2"),
    )


TEXT_ZIPF_FIT_ORACLE = """
WITH vocab AS (
    SELECT w, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE w <> '' GROUP BY w
),
ranked AS (
    SELECT freq, row_number() OVER (ORDER BY freq DESC, w) AS rank FROM vocab
),
terms AS (
    SELECT CAST(round(log2(rank), 12) AS DECIMAL(24,12)) AS x,
           CAST(round(log2(freq), 12) AS DECIMAL(24,12)) AS y
    FROM ranked
),
m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(x * y) AS DOUBLE) AS sxy,
           CAST(SUM(x * x) AS DOUBLE) AS sxx,
           CAST(SUM(y * y) AS DOUBLE) AS syy
    FROM terms
)
SELECT CAST(n AS BIGINT) AS vocab_size,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
           AS log2_c,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m
"""

SPECS.append(
    QuerySpec(
        "text_zipf_fit",
        text_zipf_fit,
        TEXT_ZIPF_FIT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# text_ngram_novelty — how much of each doc is new vs the archive?
# ---------------------------------------------------------------------------

_NV_N = 3


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive novelty: the fraction of a document's distinct
    3-gram shingles whose FIRST occurrence (by ingest order =
    doc_id) is this document — the incremental-corpus value signal
    (a doc that only repeats earlier shingles adds little training
    signal; cf. `text_boilerplate_fraction`, which scores repetition
    regardless of direction). First occurrence is one min-aggregate
    over the (shingle → doc) relation — NO per-pair comparison and
    no window; the novelty join is shingle-keyed (the dictionary
    outgrows broadcast at corpus scale). Counts exact; one ratio."""
    toked = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    idx = F.when(
        F.size("toks") >= _NV_N,
        F.sequence(F.lit(1), F.size("toks") - (_NV_N - 1)),
    ).otherwise(F.array().cast("array<int>"))
    # (b) scans 1 -> 2 without it
    shingles = persist(toked.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ",
                        *[F.element_at(F.col("toks"), i + j) for j in range(_NV_N)],
                    ),
                )
            )
        ).alias("sh"),
    ))
    first = shingles.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    scored = (
        shingles.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint")).alias(
                "n_novel"
            ),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_novel").cast("bigint").alias("n_novel"),
        F.round(F.col("n_novel").cast("double") / F.col("n_shingles"), 6).alias(
            "novelty"
        ),
    )


TEXT_NGRAM_NOVELTY_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           array_to_string(t[i : i + {_NV_N - 1}], ' ') AS sh
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, len(t) - {_NV_N - 1})) AS i
          FROM toks WHERE len(t) >= {_NV_N})
),
first AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
       round(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS novelty
FROM sh s JOIN first f USING (sh)
GROUP BY s.doc_id
"""

SPECS.append(
    QuerySpec(
        "text_ngram_novelty",
        text_ngram_novelty,
        TEXT_NGRAM_NOVELTY_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# pipeline_corpus_dashboard — one corpus-health artifact
# ---------------------------------------------------------------------------


def pipeline_corpus_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-health DASHBOARD: one (metric, value, n) row per
    headline signal, each computed by the engine's own registered
    leg — rule-based quality pass rate, exact-duplicate rate,
    boilerplate drop rate (`text_boilerplate_fraction`), mean
    archive novelty (`text_ngram_novelty`), and lang-ID agreement
    (`text_lang_id`) — the one-page artifact a data lead reads
    before approving a training run (the numeric companion of
    `dq_corpus_report`). Composing the REGISTERED operators (not
    re-deriving) means the dashboard can never drift from the
    operators it summarizes; the oracle composes the same legs'
    oracle SQL. Ratios divide exact integers; rounding 6 dp."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("n_tokens"),
        F.sum(
            (
                (F.size(toks) >= 20)
                & (F.size(toks) <= 1000)
                & (F.size(F.array_distinct(toks)) * 2 >= F.size(toks))
            ).cast("bigint")
        ).alias("n_quality"),
        F.count_distinct(F.md5("text")).alias("n_unique"),
    )

    def metric(name: str, value: F.Column, n: F.Column) -> DataFrame:
        return base_j.select(
            F.lit(name).alias("metric"),
            F.round(value, 6).alias("value"),
            n.cast("bigint").alias("n"),
        )

    base_j = base
    rows = [
        metric(
            "quality_pass_rate",
            F.col("n_quality").cast("double") / F.col("n_docs"),
            F.col("n_docs"),
        ),
        metric(
            "exact_dup_rate",
            1 - F.col("n_unique").cast("double") / F.col("n_docs"),
            F.col("n_docs"),
        ),
        metric(
            "tokens_total", F.col("n_tokens").cast("double"), F.col("n_docs")
        ),
    ]
    bp = text_boilerplate_fraction(spark, sf_dir).agg(
        F.sum(F.col("drop_flag").cast("bigint")).alias("k"),
        F.count(F.lit(1)).alias("n"),
    )
    rows.append(
        bp.select(
            F.lit("boilerplate_drop_rate").alias("metric"),
            F.round(F.col("k").cast("double") / F.col("n"), 6).alias("value"),
            F.col("n").cast("bigint").alias("n"),
        )
    )
    nv = text_ngram_novelty(spark, sf_dir).agg(
        F.sum("n_novel").alias("k"),
        F.sum("n_shingles").alias("n"),
    )
    rows.append(
        nv.select(
            F.lit("novel_shingle_rate").alias("metric"),
            F.round(F.col("k").cast("double") / F.col("n"), 6).alias("value"),
            F.col("n").cast("bigint").alias("n"),
        )
    )
    li = text_lang_id(spark, sf_dir).agg(
        F.sum(F.col("lang_match").cast("bigint")).alias("k"),
        F.count(F.lit(1)).alias("n"),
    )
    rows.append(
        li.select(
            F.lit("lang_match_rate").alias("metric"),
            F.round(F.col("k").cast("double") / F.col("n"), 6).alias("value"),
            F.col("n").cast("bigint").alias("n"),
        )
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("metric")


def _corpus_dashboard_oracle() -> str:
    return f"""
WITH base AS (
    SELECT COUNT(*) AS n_docs,
           SUM(len(string_split(text, ' '))) AS n_tokens,
           SUM(CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
                     AND len(list_distinct(string_split(text, ' '))) * 2
                         >= len(string_split(text, ' '))
                    THEN 1 ELSE 0 END) AS n_quality,
           COUNT(DISTINCT md5(text)) AS n_unique
    FROM documents
),
bp AS (
    SELECT SUM(CAST(drop_flag AS BIGINT)) AS k, COUNT(*) AS n
    FROM ({TEXT_BOILERPLATE_FRACTION_ORACLE})
),
nv AS (
    SELECT SUM(n_novel) AS k, SUM(n_shingles) AS n
    FROM ({TEXT_NGRAM_NOVELTY_ORACLE})
),
li AS (
    SELECT SUM(CAST(lang_match AS BIGINT)) AS k, COUNT(*) AS n
    FROM ({_lang_id_oracle()})
)
SELECT 'boilerplate_drop_rate' AS metric,
       round(CAST(k AS DOUBLE) / n, 6) AS value, CAST(n AS BIGINT) AS n
FROM bp
UNION ALL
SELECT 'exact_dup_rate', round(1 - CAST(n_unique AS DOUBLE) / n_docs, 6),
       CAST(n_docs AS BIGINT) FROM base
UNION ALL
SELECT 'lang_match_rate', round(CAST(k AS DOUBLE) / n, 6), CAST(n AS BIGINT)
FROM li
UNION ALL
SELECT 'novel_shingle_rate', round(CAST(k AS DOUBLE) / n, 6), CAST(n AS BIGINT)
FROM nv
UNION ALL
SELECT 'quality_pass_rate', round(CAST(n_quality AS DOUBLE) / n_docs, 6),
       CAST(n_docs AS BIGINT) FROM base
UNION ALL
SELECT 'tokens_total', round(CAST(n_tokens AS DOUBLE), 6),
       CAST(n_docs AS BIGINT) FROM base
ORDER BY metric
"""


SPECS.append(
    QuerySpec(
        "pipeline_corpus_dashboard",
        pipeline_corpus_dashboard,
        _corpus_dashboard_oracle(),
    )
)


# ---------------------------------------------------------------------------
# text_stylometry_distance — function-word profiles per source
# ---------------------------------------------------------------------------


def text_stylometry_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stylometric distance between corpus sources: each source's
    FUNCTION-WORD frequency profile (the stopword list — topic-free
    style markers, the Mosteller-Wallace/Burrows tradition) compared
    pairwise with a chi-square distance
    ``Σ_w (p₁(w) − p₂(w))² / (p₁(w) + p₂(w))`` — the
    authorship/provenance signal that flags a source whose "style"
    suddenly shifts (scraper drift, machine-generated injection).

    Exactness: profiles are exact integer counts over the fixed
    8-word marker set; each pair term is one double expression from
    four integers rounded 12 dp and summed as DECIMAL (order-free).
    Shape: ONE token aggregation (map-side combine) to a
    sources×8 relation; the pair space is sources² — dimension-
    sized — via broadcast self-join."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    prof = (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            *[
                F.sum((F.col("w") == sw).cast("bigint")).alias(f"c_{i}")
                for i, sw in enumerate(STOPWORDS)
            ],
        )
    )
    a = prof.select(
        F.col("source").alias("src_a"),
        F.col("n_tok").alias("na"),
        *[F.col(f"c_{i}").alias(f"a_{i}") for i in range(len(STOPWORDS))],
    )
    b = prof.select(
        F.col("source").alias("src_b"),
        F.col("n_tok").alias("nb"),
        *[F.col(f"c_{i}").alias(f"b_{i}") for i in range(len(STOPWORDS))],
    )
    pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    term_cols = []
    for i in range(len(STOPWORDS)):
        p1 = F.col(f"a_{i}").cast("double") / F.col("na")
        p2 = F.col(f"b_{i}").cast("double") / F.col("nb")
        term_cols.append(
            F.round(
                F.when(p1 + p2 > 0, (p1 - p2) * (p1 - p2) / (p1 + p2)).otherwise(
                    0.0
                ),
                12,
            ).cast("decimal(24,12)")
        )
    dist = term_cols[0]
    for t in term_cols[1:]:
        dist = dist + t
    return pairs.select(
        "src_a",
        "src_b",
        F.round(dist.cast("double"), 6).alias("chi2_distance"),
    ).orderBy("src_a", "src_b")


def _stylometry_oracle() -> str:
    c_exprs = ", ".join(
        f"SUM(CASE WHEN w = '{sw}' THEN 1 ELSE 0 END) AS c_{i}"
        for i, sw in enumerate(STOPWORDS)
    )
    terms = " + ".join(
        f"""CAST(round(CASE WHEN CAST(a.c_{i} AS DOUBLE) / a.n_tok
                          + CAST(b.c_{i} AS DOUBLE) / b.n_tok > 0
            THEN (CAST(a.c_{i} AS DOUBLE) / a.n_tok
                  - CAST(b.c_{i} AS DOUBLE) / b.n_tok)
                 * (CAST(a.c_{i} AS DOUBLE) / a.n_tok
                    - CAST(b.c_{i} AS DOUBLE) / b.n_tok)
                 / (CAST(a.c_{i} AS DOUBLE) / a.n_tok
                    + CAST(b.c_{i} AS DOUBLE) / b.n_tok)
            ELSE 0.0 END, 12) AS DECIMAL(24,12))"""
        for i in range(len(STOPWORDS))
    )
    return f"""
WITH toks AS (
    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
prof AS (
    SELECT source, COUNT(*) AS n_tok, {c_exprs}
    FROM toks GROUP BY source
)
SELECT a.source AS src_a, b.source AS src_b,
       round(CAST({terms} AS DOUBLE), 6) AS chi2_distance
FROM prof a JOIN prof b ON a.source < b.source
ORDER BY src_a, src_b
"""


SPECS.append(
    QuerySpec(
        "text_stylometry_distance",
        text_stylometry_distance,
        _stylometry_oracle(),
    )
)


# ---------------------------------------------------------------------------
# text_watermark_detect — green-list watermark detection (integer z-test)
# ---------------------------------------------------------------------------

_WM_Z = 2  # flag threshold (z > 2 ≈ 2.3% false-positive rate under H0)


def text_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic-text WATERMARK detection, Kirchenbauer et al. (ICML
    2023) shape: a watermarking generator boosts tokens from a
    "green list" keyed by the previous token's hash (γ=0.5 split);
    the detector counts, per document, how many bigram transitions
    land green and z-tests the excess over the γ·m expectation. On
    un-watermarked text the green fraction concentrates at 1/2, so
    flags are the z>2 false-positive tail — the invariant test pins
    that rate, and any upstream generator using this green rule
    becomes detectable with no model in the loop.

    All arithmetic is INTEGER: with γ=1/2 the z>z₀ test is
    (2g−m)² > z₀²·m ∧ 2g>m — no sqrt, no floats, exact in both
    engines. The per-doc green count is a NARROW higher-order
    ``aggregate`` over the token array — the grouping key (doc_id) is
    the row, so exploding bigrams only to groupBy them back was a
    pure-overhead shuffle (r7 bench: 1.4-1.6s warm vs 0.77s floor;
    this shape is ~0.5s and shuffle-free, which is also the right
    plan at 100 TB: zero exchanges, scales embarrassingly)."""
    from ._helpers import h32, spread  # noqa: PLC0415

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    # Green test = h32(bigram) parity — built from _helpers.h32, the
    # single source of truth for cross-engine hashes (ADVICE r8: the
    # previous inline conv(...) copy relied on implicit string→double
    # coercion and could drift if h32 ever changed).
    green = lambda i: (  # noqa: E731
        h32(
            F.concat(
                F.element_at(F.col("t"), i),
                F.lit("→"),
                F.element_at(F.col("t"), i + F.lit(1)),
            )
        )
        % 2
        == 0
    )
    per_doc = toks.select(
        "doc_id",
        (F.size("t") - 1).cast("bigint").alias("m"),
        F.aggregate(
            F.sequence(F.lit(1), F.size("t") - 1),
            F.lit(0).cast("bigint"),
            lambda acc, i: acc + F.when(green(i), 1).otherwise(0),
        ).cast("bigint").alias("g"),
    )
    excess = F.col("g") * 2 - F.col("m")
    return per_doc.select(
        "doc_id",
        "m",
        "g",
        F.expr("g * 1000 div m").alias("green_permille"),
        (
            (excess > 0) & (excess * excess > F.lit(_WM_Z * _WM_Z) * F.col("m"))
        ).cast("int").alias("wm_flag"),
    )


TEXT_WATERMARK_DETECT_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= 2
),
grams AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 1),
               i -> t[i] || chr(8594) || t[i + 1])) AS bigram
    FROM t
),
per_doc AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(CASE WHEN ('0x' || substring(md5(bigram), 1, 8))::BIGINT % 2 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS g
    FROM grams GROUP BY doc_id
)
SELECT doc_id, m, g,
       CAST(g * 1000 // m AS BIGINT) AS green_permille,
       CAST(CASE WHEN g * 2 - m > 0
                  AND (g * 2 - m) * (g * 2 - m) > {_WM_Z * _WM_Z} * m
             THEN 1 ELSE 0 END AS INTEGER) AS wm_flag
FROM per_doc
"""

SPECS.append(
    QuerySpec(
        "text_watermark_detect",
        text_watermark_detect,
        TEXT_WATERMARK_DETECT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# sim_prf_rocchio — pseudo-relevance feedback (two-pass BM25 expansion)
# ---------------------------------------------------------------------------

_PRF_FEEDBACK_DOCS = 5   # pass-1 docs assumed relevant
_PRF_EXPANSION_TERMS = 3  # terms added to the query
_PRF_TOP = 10


def sim_prf_rocchio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio shape): run the literal
    BM25 query, assume the top-5 docs are relevant, mine their top
    TF-IDF terms (excluding the original query terms), and re-score
    the corpus with the EXPANDED query — the classic two-pass recall
    booster behind 'did you mean more like this'. Both passes use the
    engine's BM25 machinery with a TERM RELATION instead of literals
    (the expanded term set is data-dependent), so the plan shape is
    identical: postings filtered inside the explode via a broadcast
    term join, df/corpus stats broadcast, narrow per-doc math,
    TakeOrdered top-k. Output: the final top-10 with per-doc matched
    term counts and the expansion terms rolled into a column for
    auditability."""
    docs, postings, stats = _bm25_corpus(spark, sf_dir)

    def bm25(terms_df):
        return (
            _bm25_term_scores(postings.join(F.broadcast(terms_df), "term"), stats, "ts")
            .groupBy("doc_id")
            .agg(
                F.sum("ts").alias("score"),
                F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
            )
        )

    q0 = spark.createDataFrame([(t,) for t in BM25_QUERY_TERMS], "term string")
    top1 = (
        bm25(q0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_PRF_FEEDBACK_DOCS)
        .select("doc_id")
    )
    # expansion: top TF-IDF terms of the feedback docs, query terms excluded
    fb_tf = (
        docs.join(F.broadcast(top1), "doc_id")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .filter(~F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fb_tf"))
    )
    corpus_df = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .join(F.broadcast(fb_tf.select("term")), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    expansion = (
        fb_tf.join(corpus_df, "term")
        .crossJoin(stats)
        .select(
            "term",
            F.round(
                F.col("fb_tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("w"),
        )
        .orderBy(F.desc("w"), F.asc("term"))
        .limit(_PRF_EXPANSION_TERMS)
        .select("term")
    )
    expanded = q0.unionByName(expansion)
    exp_list = expansion.agg(
        F.array_join(F.array_sort(F.collect_list("term")), ",").alias("expansion_terms")
    )
    return (
        bm25(expanded)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_PRF_TOP)
        .crossJoin(exp_list)
        .select(
            "doc_id",
            F.col("score").cast("double").alias("score"),
            "n_terms_hit",
            "expansion_terms",
        )
    )


def _prf_oracle() -> str:
    terms0 = ", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)
    not_in = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    bm25_body = """
    SELECT tf.doc_id,
           SUM(CAST(round(
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (tf.tf * ({k1} + 1)
                  / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl
                     / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))), 6)
               AS DECIMAL(18,6))) AS score,
           CAST(COUNT(*) AS INTEGER) AS n_terms_hit
    FROM (
        SELECT doc_id, dl, term, COUNT(*) AS tf
        FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                     unnest(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term IN (SELECT term FROM {terms})
        GROUP BY doc_id, dl, term
    ) tf
    JOIN (
        SELECT term, COUNT(*) AS df FROM (
            SELECT doc_id, term FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
            WHERE term IN (SELECT term FROM {terms})
            GROUP BY doc_id, term
        ) GROUP BY term
    ) d USING (term), stats s
    GROUP BY tf.doc_id
"""
    return f"""
WITH stats AS MATERIALIZED (
    SELECT COUNT(*) AS n_docs, SUM(len(string_split(text, ' '))) AS sum_dl
    FROM documents
),
q0(term) AS (VALUES {terms0}),
pass1 AS MATERIALIZED (
{bm25_body.format(k1=BM25_K1, b=BM25_B, terms='q0')}
),
top1 AS MATERIALIZED (
    SELECT doc_id FROM pass1 ORDER BY score DESC, doc_id LIMIT {_PRF_FEEDBACK_DOCS}
),
fb_tf AS MATERIALIZED (
    SELECT term, COUNT(*) AS fb_tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
    WHERE doc_id IN (SELECT doc_id FROM top1)
      AND term NOT IN ({not_in})
    GROUP BY term
),
corpus_df AS MATERIALIZED (
    SELECT term, COUNT(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
    WHERE term IN (SELECT term FROM fb_tf)
    GROUP BY term
),
expansion AS MATERIALIZED (
    SELECT term
    FROM fb_tf JOIN corpus_df USING (term), stats s
    ORDER BY round(fb_tf * ln(CAST(s.n_docs AS DOUBLE) / df), 6) DESC, term
    LIMIT {_PRF_EXPANSION_TERMS}
),
expanded AS MATERIALIZED (
    SELECT term FROM q0 UNION ALL SELECT term FROM expansion
),
pass2 AS MATERIALIZED (
{bm25_body.format(k1=BM25_K1, b=BM25_B, terms='expanded')}
),
exp_list AS (
    SELECT array_to_string(list_sort(list(term)), ',') AS expansion_terms
    FROM expansion
)
SELECT p.doc_id, CAST(p.score AS DOUBLE) AS score, p.n_terms_hit, e.expansion_terms
FROM (SELECT * FROM pass2 ORDER BY score DESC, doc_id LIMIT {_PRF_TOP}) p, exp_list e
"""


SPECS.append(
    QuerySpec(
        "sim_prf_rocchio",
        sim_prf_rocchio,
        _prf_oracle(),
    )
)


# ---------------------------------------------------------------------------
# text_winnowing_fingerprints — MOSS winnowing (guaranteed-density)
# ---------------------------------------------------------------------------

_WIN_K = 3  # token-gram size
_WIN_W = 4  # winnowing window (guarantee: ≥1 fingerprint per window)


def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03 —
    the MOSS algorithm): hash every positional 3-token gram, then in
    each sliding window of w=4 consecutive hashes select the RIGHTMOST
    minimum — the local fingerprinting scheme with a guaranteed
    density floor (≥ 1 selection per window, expected 2/(w+1)) that
    fixed sampling can't give and the third member of this engine's
    position-robust dedup family (CDC chunks move boundaries with
    content; winnowing guarantees match density; MinHash bounds set
    resemblance).

    Shape: positional grams are a narrow map; BOTH window functions
    (frame min and rightmost-argmin) share one doc-partitioned frame
    — one shuffle, streaming frames; the cross-doc sharing audit
    joins the fingerprint relation (a 2/(w+1) fraction of tokens)
    against itself on the hash, never the corpus. Per-doc output:
    gram/fingerprint counts, density, and how many of the doc's
    fingerprints also appear in ANY other document."""
    from ._helpers import h32, spread  # noqa: PLC0415

    docs = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= _WIN_K)
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(t) - {_WIN_K - 1}),"
                f" i -> concat_ws(' ', slice(t, i, {_WIN_K})))"
            )
        ).alias("pos", "gram"),
    ).select("doc_id", "pos", h32(F.col("gram")).alias("gh"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, _WIN_W - 1)
    )
    wins = grams.select(
        "doc_id",
        F.col("pos").alias("wpos"),
        F.min("gh").over(w).alias("m"),
        F.count(F.lit(1)).over(w).alias("span"),
    ).filter(F.col("span") == _WIN_W)  # only full windows select
    # rightmost argmin per window: equi-join on (doc, hash == window
    # min) with the w-wide position band as a post-filter — nesting
    # the argmax window inside the min window is not portable SQL
    g2 = grams.select(
        F.col("doc_id").alias("g_doc"), F.col("pos").alias("g_pos"),
        F.col("gh").alias("g_gh"),
    )
    fps = (
        wins.join(
            g2,
            (F.col("doc_id") == F.col("g_doc"))
            & (F.col("g_gh") == F.col("m"))
            & (F.col("g_pos") >= F.col("wpos"))
            & (F.col("g_pos") < F.col("wpos") + _WIN_W),
        )
        .groupBy("doc_id", "wpos", "m")
        .agg(F.max("g_pos").alias("pos"))
        .select("doc_id", "pos", F.col("m").alias("gh"))
        .distinct()
    )
    per_doc = fps.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_fp"))
    gram_counts = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    other = fps.select(F.col("doc_id").alias("o_doc"), "gh").distinct()
    shared = (
        fps.join(other, "gh")
        .filter(F.col("doc_id") != F.col("o_doc"))
        .select("doc_id", "gh")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_fp"))
    )
    return (
        gram_counts.join(per_doc, "doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            "n_fp",
            F.expr("n_fp * 1000 div n_grams").alias("density_permille"),
            F.coalesce("n_shared_fp", F.lit(0)).cast("bigint").alias("n_shared_fp"),
        )
    )


TEXT_WINNOWING_FINGERPRINTS_ORACLE = f"""
WITH toks AS MATERIALIZED (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= {_WIN_K}
),
grams AS MATERIALIZED (
    SELECT doc_id, i AS pos,
           ('0x' || substring(md5(
               array_to_string(t[i : i + {_WIN_K - 1}], ' ')
           ), 1, 8))::BIGINT AS gh
    FROM toks, LATERAL unnest(generate_series(1, len(t) - {_WIN_K - 1})) AS u(i)
),
wins AS MATERIALIZED (
    SELECT doc_id, pos AS wpos,
           MIN(gh) OVER fr AS m,
           COUNT(*) OVER fr AS span
    FROM grams
    WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
),
fps AS MATERIALIZED (
    SELECT DISTINCT doc_id, pos, gh FROM (
        SELECT w.doc_id, w.wpos, w.m AS gh, MAX(g.pos) AS pos
        FROM (SELECT * FROM wins WHERE span = {_WIN_W}) w
        JOIN grams g ON g.doc_id = w.doc_id AND g.gh = w.m
                    AND g.pos >= w.wpos AND g.pos < w.wpos + {_WIN_W}
        GROUP BY w.doc_id, w.wpos, w.m
    )
),
per_doc AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fps GROUP BY doc_id
),
gram_counts AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams GROUP BY doc_id
),
shared AS (
    SELECT a.doc_id, CAST(COUNT(DISTINCT a.gh) AS BIGINT) AS n_shared_fp
    FROM (SELECT DISTINCT doc_id, gh FROM fps) a
    JOIN (SELECT DISTINCT doc_id, gh FROM fps) b
      ON a.gh = b.gh AND a.doc_id <> b.doc_id
    GROUP BY a.doc_id
)
SELECT g.doc_id, g.n_grams, p.n_fp,
       CAST(p.n_fp * 1000 // g.n_grams AS BIGINT) AS density_permille,
       CAST(COALESCE(s.n_shared_fp, 0) AS BIGINT) AS n_shared_fp
FROM gram_counts g
JOIN per_doc p USING (doc_id)
LEFT JOIN shared s USING (doc_id)
"""

SPECS.append(
    QuerySpec(
        "text_winnowing_fingerprints",
        text_winnowing_fingerprints,
        TEXT_WINNOWING_FINGERPRINTS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 §A1.1.2)
# ---------------------------------------------------------------------------
#
# The canonical rule-based document filter for pretraining corpora. Every
# threshold below is evaluated with INTEGER cross-multiplication (3 <=
# sum_len/words <= 10 becomes 3*words <= sum_len <= 10*words), so the rule
# booleans are bit-exact across engines — the text_surprisal discipline
# applied to ratio thresholds instead of logs.

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3   # mean word length lower bound (chars/word)
GOPHER_MAX_MEAN_LEN = 10  # upper bound
# Rae '21 §A1.1.2 verbatim: "contain at least two of the following
# English words: the, be, to, of, and, that, have, with" — i.e. at
# least 2 DISTINCT stop-word TYPES from that exact 8-word list (a doc
# repeating one stopword twice fails). ADVICE r3: the previous build
# counted total hits over a generic list; this is the paper's rule.
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_STOP_TYPES = 2
GOPHER_ALPHA_NUM = 4      # alpha-word ratio >= 4/5 (0.8)
GOPHER_ALPHA_DEN = 5


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule filter: per-document boolean rule columns plus the
    conjunctive keep flag — word-count bounds, mean-word-length bounds,
    distinct-stopword-type floor (>= 2 of the paper's 8 words),
    alphabetic-word ratio (the rules a 100 TB corpus
    prunes with BEFORE any model-based scoring; the fixture's zh docs
    fail the alpha rule, short docs fail the word floor, so every rule
    discriminates). One narrow projection over the documents scan —
    no shuffle, no UDF; all thresholds integer-exact (see module
    comment), so the oracle hash-matches without float discipline."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    sum_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t).cast("int")
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    n_stop = F.size(
        F.array_distinct(F.filter(toks, lambda t: t.isin(*GOPHER_STOPS)))
    )
    r_count = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r_mean = (sum_len >= GOPHER_MIN_MEAN_LEN * n_words) & (
        sum_len <= GOPHER_MAX_MEAN_LEN * n_words
    )
    r_stop = n_stop >= GOPHER_MIN_STOP_TYPES
    r_alpha = n_alpha * GOPHER_ALPHA_DEN >= n_words * GOPHER_ALPHA_NUM
    return docs.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        sum_len.cast("int").alias("sum_word_len"),
        n_alpha.cast("int").alias("n_alpha_words"),
        n_stop.cast("int").alias("n_stop_types"),
        r_count.cast("int").alias("rule_word_count"),
        r_mean.cast("int").alias("rule_mean_len"),
        r_stop.cast("int").alias("rule_stopwords"),
        r_alpha.cast("int").alias("rule_alpha_ratio"),
        (r_count & r_mean & r_stop & r_alpha).cast("int").alias("kept"),
    )


_SQL_GOPHER_STOPS = "['" + "', '".join(GOPHER_STOPS) + "']"
TEXT_GOPHER_RULES_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), m AS (
    SELECT doc_id,
           len(toks) AS n_words,
           list_sum([length(x) FOR x IN toks]) AS sum_len,
           len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
           len(list_distinct(list_filter(toks, x -> list_contains({_SQL_GOPHER_STOPS}, x)))) AS n_stop
    FROM t
)
SELECT doc_id,
       CAST(n_words AS INTEGER) AS n_words,
       CAST(sum_len AS INTEGER) AS sum_word_len,
       CAST(n_alpha AS INTEGER) AS n_alpha_words,
       CAST(n_stop AS INTEGER) AS n_stop_types,
       CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS INTEGER) AS rule_word_count,
       CAST(sum_len BETWEEN {GOPHER_MIN_MEAN_LEN} * n_words AND {GOPHER_MAX_MEAN_LEN} * n_words AS INTEGER) AS rule_mean_len,
       CAST(n_stop >= {GOPHER_MIN_STOP_TYPES} AS INTEGER) AS rule_stopwords,
       CAST(n_alpha * {GOPHER_ALPHA_DEN} >= n_words * {GOPHER_ALPHA_NUM} AS INTEGER) AS rule_alpha_ratio,
       CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND sum_len BETWEEN {GOPHER_MIN_MEAN_LEN} * n_words AND {GOPHER_MAX_MEAN_LEN} * n_words
            AND n_stop >= {GOPHER_MIN_STOP_TYPES}
            AND n_alpha * {GOPHER_ALPHA_DEN} >= n_words * {GOPHER_ALPHA_NUM} AS INTEGER) AS kept
FROM m
"""

SPECS.append(
    QuerySpec(
        "text_gopher_rules",
        text_gopher_rules,
        TEXT_GOPHER_RULES_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Tokenizer fertility per language
# ---------------------------------------------------------------------------


def text_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-budget profile: subword fertility
    (BPE-ish chunks per whitespace word) and bytes per chunk — the
    table a multilingual pretraining run consults when setting
    per-language sampling weights (high-fertility languages cost more
    tokens per word, so naive doc-count mixing under-trains them).
    One narrow map + one hash-agg on the 5-value lang key; every
    ratio divides exact integer sums (deterministic doubles)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    per_doc = docs.select(
        "lang",
        F.size(toks).alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), 0)).alias(
            "n_chunks"
        ),
        # octet_length: UTF-8 BYTES, not characters — the whole point
        # of bytes_per_chunk is pricing multi-byte (CJK) languages
        F.octet_length("text").alias("n_bytes"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_chunks").cast("long").alias("n_chunks"),
        F.sum("n_bytes").cast("long").alias("n_bytes"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        "n_chunks",
        F.round(F.col("n_chunks") / F.col("n_words"), 6).alias("fertility"),
        F.round(F.col("n_bytes") / F.greatest(F.col("n_chunks"), F.lit(1)), 6).alias(
            "bytes_per_chunk"
        ),
        F.round(F.col("n_words") / F.col("n_docs"), 6).alias("words_per_doc"),
    )


TEXT_TOKEN_FERTILITY_ORACLE = """
WITH per_doc AS (
    SELECT lang,
           len(string_split(text, ' ')) AS n_words,
           len(regexp_extract_all(text, '[a-z]{1,4}')) AS n_chunks,
           octet_length(encode(text)) AS n_bytes
    FROM documents
), agg AS (
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
           CAST(sum(n_bytes) AS BIGINT) AS n_bytes
    FROM per_doc GROUP BY lang
)
SELECT lang, n_docs, n_words, n_chunks,
       round(n_chunks * 1.0 / n_words, 6) AS fertility,
       round(n_bytes * 1.0 / greatest(n_chunks, 1), 6) AS bytes_per_chunk,
       round(n_words * 1.0 / n_docs, 6) AS words_per_doc
FROM agg
"""

SPECS.append(
    QuerySpec(
        "text_token_fertility",
        text_token_fertility,
        TEXT_TOKEN_FERTILITY_ORACLE,
    )
)
