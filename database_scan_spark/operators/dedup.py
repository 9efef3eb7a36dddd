"""Document deduplication — exact, MinHash+LSH, SimHash, n-gram
Jaccard (north-star LLM-pipeline operators, BASELINE.json).

The reference's pervasive `dedup_by_id` (SURVEY §2.4) removes exact
id duplicates; a 100 TB training-data pipeline needs *content*
dedup. Everything here is expressed with built-in JVM expressions
(no Python in the hot path) and a deterministic hash family shared
with the DuckDB oracle:

    h32(s) = int(md5(s)[:8], 16)            -- same in both engines
    h_i(x) = (a_i * (h32 mod P) + b_i) mod P,  P = 2^31 - 1

so even the LSH internals hash-match the oracle — the strongest
check the harness allows (most systems settle for rows-only here).

Scale posture:

- shingling/minhashing is a narrow map (no shuffle); the only
  shuffles are the per-doc signature aggregation and the band-bucket
  self-join — both keyed, both AQE-skew-handled;
- the band self-join is the classic LSH trick: candidate pairs come
  from tiny per-bucket groups instead of an O(n²) cross join;
- verification (true Jaccard) joins shingles ONLY for candidate
  pairs, so the expensive exact step runs on a vanishing fraction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import persist
from ..spec import QuerySpec
from ._helpers import h32, spread

P31 = 2_147_483_647  # 2^31 - 1, Mersenne prime

# Deterministic MinHash parameter family (fixed seed, literal in both
# the Spark plan and the generated oracle SQL).
_K = 64  # hash functions
_BANDS = 16  # bands of r = 4
_R = _K // _BANDS
_rng = np.random.RandomState(1_234_567)
MINHASH_A = [int(x) for x in _rng.randint(1, P31, size=_K)]
MINHASH_B = [int(x) for x in _rng.randint(0, P31, size=_K)]
# The signature kernel interpolates these constants into parsed
# `F.expr` SQL strings (optimization r10); the arithmetic stays 64-bit
# against the BIGINT h column only while every constant is a plain
# Python int inside [0, 2^31) — an INT-vs-BIGINT literal-typing
# dependency the Column-API form enforced structurally and the string
# form merely inherits. Fail loud at import if the family ever drifts
# (ADVICE r10).
assert all(isinstance(a, int) and 0 < a < P31 for a in MINHASH_A)
assert all(isinstance(b, int) and 0 <= b < P31 for b in MINHASH_B)

JACCARD_THRESHOLD = 0.5


_SQL_H32 = "('0x' || substring(md5({expr}), 1, 8))::BIGINT"


def _shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-gram token shingles as an array column — a pure
    array expression (whole-stage codegen, no UDF). ``text`` must be
    an ALREADY-SPLIT token array column (see the toks note below).

    Documents with fewer than n tokens yield an EMPTY array: Spark's
    ``sequence(start, stop)`` defaults to step −1 when start > stop
    (so ``sequence(1, 0)`` is ``[1, 0]``, driving element_at out of
    bounds), hence the explicit guard — matching DuckDB's
    ``generate_series(1, 0)`` which is empty."""
    toks = text  # callers pass a MATERIALIZED token-array column:
    # a lambda over an inline split() re-evaluates the split per
    # element_at (measured 6.5x slower at sf0.1)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


# DuckDB twin of _shingles (1-based list indexing, list comprehension).
_SQL_SHINGLES = """
SELECT doc_id,
       unnest(list_distinct([
           t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           FOR i IN generate_series(1, greatest(len(t) - 2, 0))
       ])) AS shingle
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""


def _shingle_df(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """Exploded (doc_id, shingle) relation. ``sample_mod=m`` keeps the
    deterministic 1/m doc sample (cross-engine md5 hash on doc_id) —
    the knob that bounds EXACT-join audit cost at corpus scale: docs
    are filtered BEFORE the explode, so per-shingle document frequency
    (the quadratic term) shrinks by m, pair cost by m²."""
    docs = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    if sample_mod is not None:
        docs = docs.filter(
            h32(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
            % sample_mod
            == 0
        )
    return docs.select(
        "doc_id", F.explode(_shingles(F.col("toks"))).alias("shingle")
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group by the text itself (at 100 TB,
    group by a 128-bit content hash instead so the shuffle carries
    16 bytes, not documents — md5 column included to show the key),
    survivor = lowest doc_id (deterministic, SURVEY §1.4)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("survivor_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS survivor_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard (set-similarity join)
# ---------------------------------------------------------------------------


def _verified_pairs(sh: DataFrame, candidates: DataFrame) -> DataFrame:
    """Exact-Jaccard verification for a (small) candidate-pair set:
    semi-join the shingle table down to candidate docs first, then
    count intersections for candidate pairs only."""
    # (b) dedup_incremental_minhash's scans 2 -> 6 without it
    candidates = persist(candidates)
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .dropDuplicates(["doc_id"])
    )
    sh_c = sh.join(F.broadcast(cand_docs), "doc_id")
    sa = sh_c.select(F.col("doc_id").alias("a_id"), F.col("shingle").alias("a_sh"))
    sb = sh_c.select(F.col("doc_id").alias("b_id"), F.col("shingle").alias("b_sh"))
    inter = (
        candidates.join(sa, F.col("doc_a") == F.col("a_id"))
        .join(sb, (F.col("doc_b") == F.col("b_id")) & (F.col("a_sh") == F.col("b_sh")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_scored(_with_sizes(sh, inter))


def _with_sizes(sh: DataFrame, inter: DataFrame) -> DataFrame:
    """Pair intersections (doc_a, doc_b, inter) joined with both
    docs' shingle-set sizes ``na`` and ``nb``."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return inter.join(na, "doc_a").join(nb, "doc_b")


def _shingle_overlaps(sh: DataFrame) -> DataFrame:
    """|A∩B| with both set sizes for every doc pair (doc_a < doc_b)
    sharing a shingle: the shingle equi-join, so docs sharing no
    shingle never meet (no O(n²) cross join)."""
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _with_sizes(sh, inter)


def _jaccard_scored(pairs: DataFrame) -> DataFrame:
    """Exact Jaccard |A∩B| / (|A|+|B|−|A∩B|) of sized pairs, kept at
    or above JACCARD_THRESHOLD."""
    return (
        pairs.withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def _prefix_filtered_candidates(sh: DataFrame) -> DataFrame:
    """AllPairs/PPJoin positional prefix filter (Bayardo et al.
    WWW'07): order each doc's shingles rarest-first (global df asc,
    shingle asc); any pair with J ≥ t must collide within the first
    n − ⌈t·n⌉ + 1 shingles of BOTH docs, so candidates come from
    joining only those prefixes — frequent shingles sit at the end of
    the ordering and never join. Exact: recall 1 by the lemma.

    This is the scale path for Zipfian shingle distributions, where a
    handful of hyper-frequent shingles otherwise costs C(f,2) pairs
    each. On the fixture corpus (uniform small vocab, df ≤ ~25) it
    prunes almost nothing and the extra stages LOSE to the naive join
    (measured 7.8s vs 4.8s at sf0.1) — which is why
    ``dedup_ngram_jaccard`` defaults to the naive join and this stays
    available for skewed corpora.
    """
    t = JACCARD_THRESHOLD
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix = (
        sh.join(freq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(F.col("pos") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
        .select("doc_id", "shingle", "n")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size filter: t·|A| ≤ |B| ≤ |A|/t is necessary for J ≥ t
            & (F.col("b.n") * F.lit(1.0) >= F.lit(t) * F.col("a.n"))
            & (F.col("a.n") * F.lit(1.0) >= F.lit(t) * F.col("b.n")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    prefix_filter: bool = False,
    sample_mod: int | None = None,
) -> DataFrame:
    """EXACT Jaccard near-dup pairs via a set-similarity join: explode
    shingles, equi-join on the shingle (docs sharing no shingle never
    meet — no O(n²) cross join), count intersections per pair, and
    keep |A∩B| / (|A|+|B|−|A∩B|) ≥ t.

    ``prefix_filter=True`` switches candidate generation to the
    PPJoin prefix filter (see ``_prefix_filtered_candidates`` for
    when that wins). Both paths produce identical results; the DuckDB
    oracle is always the naive formulation (independent derivation).
    """
    sh = _shingle_df(spark, sf_dir, sample_mod=sample_mod)
    if prefix_filter:
        sh = persist(sh)  # (b) scans 1 -> 3 without it
        return _verified_pairs(sh, _prefix_filtered_candidates(sh))
    return _jaccard_scored(_shingle_overlaps(sh))


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard join (the scale
    path): candidates come from ``_prefix_filtered_candidates`` —
    only the ⌊(1−t)·n⌋+1 globally-rarest shingles of each doc can
    open a candidate pair, so the equi-join explodes on rare tokens
    instead of every token. Lossless (identical result set to the
    naive join; same oracle), but the candidate-pair volume drops
    superlinearly on corpora with common shingles."""
    return dedup_ngram_jaccard(spark, sf_dir, prefix_filter=True)


DEDUP_NGRAM_JACCARD_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 6) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _bands_from_shingles(sh: DataFrame) -> DataFrame:
    """(doc_id, band_idx, sig) LSH band table from a shingle table —
    the single source of the signature/banding expressions, shared by
    the batch pipeline and the incremental index.

    The 64 min-slots and 16 band structs are built as TWO parsed
    ``F.expr`` strings instead of ~500 Column-API calls (optimization
    r10, guide §4 applied to the DRIVER boundary): every Column op is
    a py4j round trip plus JVM-side work, and cProfile showed 7,950
    py4j commands / 4.1s of the LSH build inside this function alone.
    One SQL parse constructs the identical expression tree JVM-side —
    measured warm build 1.60s -> 0.29s for this subtree, byte-equal
    output (A/B in OPTIMIZATION_r10.md)."""
    sh_hashed = sh.withColumn("h", h32(F.col("shingle")) % F.lit(P31))
    min_exprs = ", ".join(
        f"min(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {P31}) AS m{i}"
        for i in range(_K)
    )
    bands = ", ".join(
        "struct({j} AS band_idx, concat_ws('_', {cols}) AS sig)".format(
            j=j,
            cols=", ".join(f"cast(s.m{j * _R + t} AS string)" for t in range(_R)),
        )
        for j in range(_BANDS)
    )
    mins = sh_hashed.groupBy("doc_id").agg(F.expr(f"struct({min_exprs})").alias("s"))
    return mins.select(
        "doc_id", F.expr(f"explode(array({bands}))").alias("b")
    ).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.sig").alias("sig")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + banded LSH + exact verification.

    shingle→minhash→band→bucket-join, the canonical web-scale near-dup
    pipeline (Broder '97 resemblance sketches; GPT-3/C4-style corpus
    dedup): k=64 permutations approximated by (a·h+b) mod P, banded
    16×4 so pairs with Jaccard ≥ ~0.6 collide in ≥1 band w.h.p.;
    candidates (and ONLY candidates) are verified with exact Jaccard.

    Signature computation is explode + one hash-aggregate with 64 min
    slots: every expression (md5, the affine rehashes, the mins) sits
    inside whole-stage codegen — measured faster than the "elegant"
    per-row array-transform formulation, whose higher-order functions
    run interpreted. One shuffle (doc_id) with map-side partial mins,
    so the exchange carries 64 ints per doc, not shingles.

    Candidate generation is a bucket group-by, not a band self-join:
    group (band_idx, sig) → collect the doc_ids per bucket → explode
    ordered pairs. One shuffle keyed on the band signature, versus
    the self-join's exchange + sort + the separate dropDuplicates
    exchange; measured ~30% faster end-to-end at sf0.1 with identical
    output. A degenerate bucket (many docs sharing one signature)
    still costs O(|bucket|²) pairs in EITHER formulation — that's
    inherent to LSH banding, and the per-bucket doc list here is
    bounded by the same collision count the join would blow up on.

    Verification re-derives shingles for CANDIDATE DOCS ONLY: the
    documents scan is joined to the (broadcast) candidate-doc list
    BEFORE the shingle explode, so the expensive explode+collect_set
    runs over the tiny LSH-selected subset, and the full-corpus
    shingle table is never materialized anywhere — at 100 TB caching
    it is memory-impossible (measured at sf0.1: dropping the persist
    is also flat-out faster, 2.6s vs 2.7s steady-state, because the
    cache build cost exceeds the re-scan it saves). Candidate-pair
    and candidate-doc tables are tiny relative to the corpus by LSH's
    design; the doc-list join is explicitly broadcast, the pair joins
    are left to AQE so a pathological candidate explosion degrades to
    a shuffle join instead of a driver OOM.
    """
    bands = _bands_from_shingles(_shingle_df(spark, sf_dir))
    buckets = (
        bands.groupBy("band_idx", "sig")
        .agg(F.collect_set("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.sort_array("ids").alias("ids"))
    )
    # (b) latency 1.24 -> 1.42 s (dq_near_dup_rate_by_source) and
    # 0.97 -> 1.04 s (dedup_minhash_lsh) without it
    candidates = persist(
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .dropDuplicates(["doc_id"])
    )
    # Shingle candidate docs only: prune the documents scan with the
    # broadcast candidate list BEFORE the explode, then collect each
    # doc's (distinct-by-construction) shingle set and its size in
    # one aggregation.
    docs = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    sets = (
        docs.join(F.broadcast(cand_docs), "doc_id")
        .select("doc_id", F.explode(_shingles(F.col("toks"))).alias("shingle"))
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"), F.col("n").alias("na"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"), F.col("n").alias("nb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard",
            F.round(inter / (F.col("na") + F.col("nb") - inter), 6),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def _minhash_oracle() -> str:
    min_exprs = ",\n           ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {P31}) AS m{i}" for i in range(_K)
    )
    band_selects = "\n    UNION ALL ".join(
        "SELECT doc_id, {j} AS band_idx, {sig} AS sig FROM mins".format(
            j=j,
            sig=" || '_' || ".join(f"CAST(m{j * _R + t} AS VARCHAR)" for t in range(_R)),
        )
        for j in range(_BANDS)
    )
    return f"""
WITH sh AS ({_SQL_SHINGLES}),
hashed AS (
    SELECT doc_id, {_SQL_H32.format(expr="shingle")} % {P31} AS h, shingle FROM sh
),
mins AS (
    SELECT doc_id,
           {min_exprs}
    FROM hashed GROUP BY doc_id
),
bands AS (
    {band_selects}
),
candidates AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands x JOIN bands y
      ON x.band_idx = y.band_idx AND x.sig = y.sig AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
    FROM candidates c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 6) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMBITS = 32


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash (Charikar '02): for each bit
    position, sum +1/−1 votes from every distinct token's hash; the
    sign vector is the fingerprint. Near-identical token bags agree
    on almost every bit, so Hamming-close fingerprints ≈ near-dups.
    One narrow map + one groupBy — no joins, no UDFs."""
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    ).withColumn("h", h32(F.col("tok")))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(_SIMBITS)
        ]
    )
    simhash = None
    for j in range(_SIMBITS):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.cast("long").alias("simhash"))


def _simhash_oracle() -> str:
    vote_exprs = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(_SIMBITS)
    )
    bit_sum = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMBITS)
    )
    return f"""
WITH toks AS (
    SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
    FROM documents
),
hashed AS (SELECT doc_id, {_SQL_H32.format(expr="tok")} AS h FROM toks),
votes AS (
    SELECT doc_id,
           {vote_exprs}
    FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({bit_sum} AS BIGINT) AS simhash FROM votes
"""


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band the 32-bit fingerprint into 4
    bytes; by pigeonhole, any pair within Hamming distance ≤ 3 shares
    at least one exact byte (3 flips can't touch all 4 bands) — the
    self-join runs per byte-bucket (LSH again), then the exact
    Hamming check (bit_count of XOR) filters. A larger distance
    budget needs more bands: recall is only guaranteed for
    d < #bands."""
    sims = dedup_simhash(spark, sf_dir)
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("simhash"), 8 * i).bitwiseAND(F.lit(255)).alias("byte"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.band_idx").alias("band_idx"), F.col("b.byte").alias("byte"))
    x = bands.alias("x")
    y = bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.byte") == F.col("y.byte"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).cast("int").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= 3)
    )


def _simhash_pairs_oracle() -> str:
    return f"""
WITH sims AS ({_simhash_oracle()}),
bands AS (
    SELECT doc_id, simhash, i AS band_idx, (simhash >> (8 * i)) & 255 AS byte
    FROM sims, (SELECT unnest(generate_series(0, 3)) AS i)
)
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
FROM bands x JOIN bands y
  ON x.band_idx = y.band_idx AND x.byte = y.byte AND x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

COSINE_DUP_THRESHOLD = 0.40


def _dot(a: Column, b: Column) -> Column:
    """Cross-engine dot product — delegated to the package-wide kernel
    in ``_helpers.dot`` (single source of truth)."""
    from ._helpers import dot  # noqa: PLC0415

    return dot(a, b)


COSINE_CELLS = 32  # ball-partition cells (vec_id < COSINE_CELLS seed)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold over the
    (unit-normalized) embedding column, so cosine = dot product.

    EXACT result with NO unbounded crossJoin: a ball-partition
    similarity join (FAISS-IVF shape with a completeness proof).
    Vectors are assigned to their nearest of ``COSINE_CELLS``
    deterministic centroids; per-cell radii r_i = max member
    distance. For unit vectors cos(a,b) ≥ t ⟺ ‖a−b‖ ≤ D =
    √(2−2t), and the triangle inequality gives ‖a−b‖ ≥
    d(c_i,c_j) − r_i − r_j — so a cell PAIR can be pruned outright
    when that lower bound exceeds D, and the surviving pairs form an
    equi-join blocking table. Exact cosine runs only on rows of
    admissible cell pairs; output is provably identical to the
    all-pairs formulation (the oracle stays the exact SQL).

    100 TB posture: real near-dup corpora are clustered, so cell
    pruning removes most of the C² pair space and each surviving
    cell pair is an equi-join partition (bounded memory, AQE-split).
    On adversarially uniform data at this LOW threshold (0.40 —
    qualifying fixture pairs sit at 60-66°, where sign-bit LSH
    multi-probe measures < 65% recall, which would break the exact
    contract) no exact method is subquadratic; the measured fallback
    is a distributed blocked all-pairs rather than a single
    nested-loop. The approximate dial at scale is ``sim_lsh_ann``.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    d_max = float((2.0 - 2.0 * COSINE_DUP_THRESHOLD) ** 0.5) + 1e-6

    cents = emb.filter(F.col("vec_id") < COSINE_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c")
    )
    # One-row array of centroids → broadcast → explode: the bounded
    # "crossJoin" shape that can never bottleneck (no CartesianProduct).
    cents1 = cents.agg(F.collect_list(F.struct("cell", "c")).alias("cents"))
    d2 = (
        _dot(F.col("embedding"), F.col("embedding"))
        - 2 * _dot(F.col("embedding"), F.col("cand.c"))
        + _dot(F.col("cand.c"), F.col("cand.c"))
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cand.cell"))
    assigned = (
        emb.crossJoin(cents1)
        .select("vec_id", "embedding", F.explode("cents").alias("cand"))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "embedding",
            F.col("cand.cell").alias("cell"),
            F.sqrt(F.greatest(F.col("d2"), F.lit(0.0))).alias("d"),
        )
    )
    radii = assigned.groupBy("cell").agg(F.max("d").alias("r"))
    cellinfo = radii.join(F.broadcast(cents), "cell")  # ≤ COSINE_CELLS rows

    # Admissible ORDERED cell pairs (i,j): centroid distance minus both
    # radii must not exceed D. C² is bounded (≤ 32²) — explode of a
    # one-row collected array again, then broadcast onto the data.
    info1 = cellinfo.agg(
        F.collect_list(F.struct("cell", "r", "c")).alias("cells")
    )
    cd = F.sqrt(
        F.greatest(
            _dot(F.col("ca.c"), F.col("ca.c"))
            - 2 * _dot(F.col("ca.c"), F.col("cb.c"))
            + _dot(F.col("cb.c"), F.col("cb.c")),
            F.lit(0.0),
        )
    )
    cpairs = (
        cellinfo.crossJoin(info1)
        .select(
            F.struct(F.col("cell"), F.col("r"), F.col("c")).alias("ca"),
            F.explode("cells").alias("cb"),
        )
        .filter(cd - F.col("ca.r") - F.col("cb.r") <= F.lit(d_max))
        .select(
            F.col("ca.cell").alias("cell_a"), F.col("cb.cell").alias("cell_b")
        )
    )

    a = assigned.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "cell"
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("cell").alias("cell_b"),
    )
    return (
        a.join(F.broadcast(cpairs), a["cell"] == cpairs["cell_a"])
        .join(b, "cell_b")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", F.round(_dot(F.col("ea"), F.col("eb")), 6))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
    )


DEDUP_EMBEDDING_COSINE_ORACLE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= {COSINE_DUP_THRESHOLD}
"""


SPECS = [
    QuerySpec("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_ORACLE),
    QuerySpec("dedup_jaccard_prefix", dedup_jaccard_prefix, DEDUP_NGRAM_JACCARD_ORACLE),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, _minhash_oracle()),
    QuerySpec("dedup_simhash", dedup_simhash, _simhash_oracle()),
    QuerySpec("dedup_simhash_pairs", dedup_simhash_pairs, _simhash_pairs_oracle()),
    QuerySpec("dedup_embedding_cosine", dedup_embedding_cosine, DEDUP_EMBEDDING_COSINE_ORACLE),
]


def dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib's MinHashLSH over a HashingTF shingle vector — the
    built-in alternative to the hand-rolled pipeline above.

    Oracled as a CROSS-IMPLEMENTATION check (VERDICT r2 item 4):
    MLlib's hash family isn't reproducible in DuckDB SQL, but both
    this pipeline and ``dedup_minhash_lsh`` end in the SAME exact
    Jaccard ≥ 0.5 verification, so their verified outputs must be
    equal whenever both candidate generators achieve full recall on
    the qualifying pairs — which holds on the fixtures (proven
    empirically at sf0.001/0.01/0.1: symmetric difference 0, 28/25/
    256 pairs). The spec therefore shares ``_minhash_oracle()``; a
    hash mismatch here means one of the two LSH implementations
    dropped or invented a candidate pair. At scale, prefer whichever
    pipeline owns its hash family end-to-end — reproducible hashes
    are what make cross-system verification possible at all."""
    try:
        from pyspark.ml.feature import HashingTF, MinHashLSH  # noqa: PLC0415
    except ImportError:  # pragma: no cover - mllib always ships w/ pyspark
        raise NotImplementedError("pyspark.ml unavailable") from None

    docs = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    with_shingles = docs.select(
        "doc_id", _shingles(F.col("toks")).alias("shingles")
    ).filter(F.size("shingles") > 0)
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(with_shingles)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    # Threshold 0.6, NOT 0.5 (ADVICE r3): approxSimilarityJoin keeps
    # pairs with STRICT distCol < threshold, and distCol is Jaccard
    # distance over the HashingTF FEATURE space (2^18 buckets,
    # collision-prone), so a pair at exactly shingle-Jaccard 0.5 — or
    # one whose feature-space Jaccard dips below 0.5 via collisions —
    # would be dropped before the verify stage while the oracle keeps
    # it. The wider candidate gate (feature-Jaccard > 0.4) leaves the
    # exact-shingle-Jaccard >= 0.5 _verified_pairs stage as the SOLE
    # semantic gate; oracle equality then depends only on LSH recall.
    pairs = (
        model.approxSimilarityJoin(feats, feats, 0.6, distCol="jaccard_dist")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # verify candidates with the engine's exact Jaccard (same contract
    # as dedup_minhash_lsh)
    return _verified_pairs(_shingle_df(spark, sf_dir), pairs)


SPECS.append(
    QuerySpec(
        "dedup_minhash_mllib",
        dedup_minhash_mllib,
        _minhash_oracle(),
    )
)


def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance entity resolution over the part-name dictionary:
    names within Levenshtein distance 2 are merge candidates (typo
    variants). The scale discipline is WHERE the quadratic runs: the
    fact table is first projected to its distinct-name DICTIONARY
    (dimension-sized: vocabulary, not rows), and the pairwise compare
    runs on that with a length-band prune: |len(a)−len(b)| ≤ 2 is
    necessary for dist ≤ 2, and it is turned into an EQUI blocking
    key by exploding each left name to its 5 admissible partner
    lengths [len−2 … len+2] — a pair within the band matches exactly
    one probe (probe = len(b)), so the plan is a hash join on the
    length block, not a BroadcastNestedLoopJoin over the whole
    dictionary (quadratic in vocabulary). The residual name_a <
    name_b ordering rides along as a join filter. The finer published
    dial, if length blocks ever skew, is PassJoin segment blocking
    (Li/Deng/Feng, VLDB'11): τ+1 segments, equi-join on
    (segment_id, substring) — same explode-to-equi-key idea. Spark
    and DuckDB share the textbook Levenshtein definition, so
    distances match exactly; Spark-side the distance is computed with
    the bounded variant (threshold=2, O(len·τ) not O(len²))."""
    names = load(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.explode(
            F.array(*[F.length("p_name") + F.lit(k) for k in range(-2, 3)])
        ).alias("lb"),
    )
    b = names.select(F.col("p_name").alias("name_b"), F.length("p_name").alias("lb"))
    return (
        a.join(b, ["lb"])
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b", 2).cast("bigint")
        )
        .filter(F.col("dist") >= 0)
        .select("name_a", "name_b", "dist")
    )


DEDUP_LEVENSHTEIN_ORACLE = """
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM names a
JOIN names b
  ON a.p_name < b.p_name AND abs(length(a.p_name) - length(b.p_name)) <= 2
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""

SPECS.append(
    QuerySpec(
        "dedup_levenshtein",
        dedup_levenshtein,
        DEDUP_LEVENSHTEIN_ORACLE,
    )
)


_PJ_TAU = 2  # edit-distance threshold → τ+1 = 3 segments


def dedup_levenshtein_passjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PassJoin segment blocking (Li/Deng/Feng, VLDB'11) — the finer
    equi-join dial for edit-distance joins when length blocks skew:
    each indexed name splits into τ+1 = 3 contiguous segments
    (pigeonhole: ≤ τ edits cannot touch all of them, so a pair within
    distance τ shares at least one segment VERBATIM, at a start
    position shifted by at most τ). Probe side enumerates, for each
    admissible partner length and segment, the ≤ (2τ+1) aligned
    substrings — a bounded JVM-side explode — and the join is a hash
    join on (partner_len, segment_id, substring). Candidates then
    verify with the bounded Levenshtein kernel. Same output and
    oracle as ``dedup_levenshtein``; the blocking key carries ~content
    (segment text), not just length, so hot length blocks subdivide."""
    names = load(spark, sf_dir, "part").select("p_name").distinct()
    tau, nseg = _PJ_TAU, _PJ_TAU + 1

    # Index side: name_b → (lb, seg_id, seg_str). Even-split rule:
    # seg i covers [i*lb//3, (i+1)*lb//3) — all JVM substring exprs.
    def seg_start(lb, i):  # 1-based for F.substring
        return F.floor(lb * i / nseg).cast("int") + 1

    lb = F.length("p_name")
    idx_segs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seg_id"),
                F.substring(
                    F.col("p_name"),
                    seg_start(lb, i),
                    (seg_start(lb, i + 1) - seg_start(lb, i)),
                ).alias("seg"),
            )
            for i in range(nseg)
        ]
    )
    b = (
        names.select(F.col("p_name").alias("name_b"), lb.alias("lb"), F.explode(idx_segs).alias("s"))
        .select("name_b", "lb", F.col("s.seg_id").alias("seg_id"), F.col("s.seg").alias("seg"))
        .filter(F.length("seg") > 0)
    )

    # Probe side: name_a → for each partner length lb in [la−τ, la+τ]
    # and each segment of THAT length's split, the substrings of
    # name_a at start positions shifted by ≤ τ.
    la = F.length("p_name")
    probes = []
    for dl in range(-tau, tau + 1):
        plb = la + F.lit(dl)
        for i in range(nseg):
            st = F.floor(plb * i / nseg).cast("int") + 1
            ln = (F.floor(plb * (i + 1) / nseg) - F.floor(plb * i / nseg)).cast("int")
            for shift in range(-tau, tau + 1):
                pos = st + F.lit(shift)
                probes.append(
                    F.when(
                        (plb >= F.lit(1))
                        & (pos >= F.lit(1))
                        & (pos + ln - 1 <= la)
                        & (ln > F.lit(0)),
                        F.struct(
                            plb.cast("int").alias("lb"),
                            F.lit(i).alias("seg_id"),
                            F.substring(F.col("p_name"), pos, ln).alias("seg"),
                        ),
                    )
                )
    a = (
        names.select(
            F.col("p_name").alias("name_a"),
            F.explode(
                F.array_distinct(
                    F.filter(F.array(*probes), lambda x: x.isNotNull())
                )
            ).alias("p"),
        )
        .select(
            "name_a",
            F.col("p.lb").alias("lb"),
            F.col("p.seg_id").alias("seg_id"),
            F.col("p.seg").alias("seg"),
        )
    )

    cand = (
        a.join(b, ["lb", "seg_id", "seg"])
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .dropDuplicates(["name_a", "name_b"])
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein("name_a", "name_b", _PJ_TAU).cast("bigint")
        )
        .filter(F.col("dist") >= 0)
        .select("name_a", "name_b", "dist")
    )


SPECS.append(
    QuerySpec(
        "dedup_levenshtein_passjoin",
        dedup_levenshtein_passjoin,
        DEDUP_LEVENSHTEIN_ORACLE,
    )
)


def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs whose 3-gram
    shingles are substantially contained in any held-out eval doc
    (the pre-training hygiene pass that keeps test sets out of the
    corpus). The eval split is deterministic (h32(doc_id) % 10 == 0,
    ~10%% of docs); everything else is the training side.

    Scale shape: eval sets are dimension-sized next to a 100 TB
    corpus, so the eval shingle table is BROADCAST — the corpus-side
    shingle explode stays a narrow map + broadcast hash join with no
    corpus shuffle; only the (train, eval) overlap counts (candidate
    pairs, tiny) hash-aggregate. Containment = |train ∩ eval| /
    |train shingles| against the train doc's own shingle count, the
    asymmetric measure decontamination wants (a short eval prompt
    inside a long train doc still triggers)."""
    sh = _shingle_df(spark, sf_dir)
    is_eval = h32(F.col("doc_id").cast("string")) % 10 == 0
    train_sh = sh.filter(~is_eval)
    eval_sh = sh.filter(is_eval).select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    train_sizes = train_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    overlaps = (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("overlap"), "eval_id")
    best = (
        overlaps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("eval_id").alias("best_eval_id"), "overlap")
    )
    return (
        train_sizes.join(best, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            "best_eval_id",
            F.coalesce("overlap", F.lit(0)).alias("overlap"),
            F.round(F.coalesce("overlap", F.lit(0)) / F.col("n_shingles"), 6).alias(
                "containment"
            ),
            (
                F.coalesce("overlap", F.lit(0)) / F.col("n_shingles") >= 0.5
            ).alias("contaminated"),
        )
    )


DEDUP_DECONTAMINATE_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
train_sh AS (
    SELECT * FROM sh WHERE {_SQL_H32.format(expr="CAST(doc_id AS VARCHAR)")} % 10 <> 0
),
eval_sh AS (
    SELECT doc_id AS eval_id, shingle FROM sh
    WHERE {_SQL_H32.format(expr="CAST(doc_id AS VARCHAR)")} % 10 = 0
),
train_sizes AS (
    SELECT doc_id, COUNT(*) AS n_shingles FROM train_sh GROUP BY doc_id
),
ovl AS (
    SELECT t.doc_id, e.eval_id, COUNT(*) AS overlap
    FROM train_sh t JOIN eval_sh e ON t.shingle = e.shingle
    GROUP BY t.doc_id, e.eval_id
),
best AS (
    SELECT doc_id, eval_id AS best_eval_id, overlap,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY overlap DESC, eval_id) AS rn
    FROM ovl
)
SELECT s.doc_id, s.n_shingles, b.best_eval_id,
       COALESCE(b.overlap, 0) AS overlap,
       round(COALESCE(b.overlap, 0) * 1.0 / s.n_shingles, 6) AS containment,
       COALESCE(b.overlap, 0) * 1.0 / s.n_shingles >= 0.5 AS contaminated
FROM train_sizes s LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
  ON s.doc_id = b.doc_id
"""

SPECS.append(
    QuerySpec(
        "dedup_decontaminate",
        dedup_decontaminate,
        DEDUP_DECONTAMINATE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# One-sided containment (subset/superset) dedup
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by SET CONTAINMENT: C(A→B) =
    |A∩B| / |A|. Jaccard misses the quote/extension case — a short
    document wholly embedded in a much longer one scores J ≈ |A|/|B|
    (tiny) but C(A→B) ≈ 1. Corpus pipelines dedup these as
    subset/superset pairs, keeping the superset.

    Same set-similarity-join skeleton as ``dedup_ngram_jaccard``
    (shingle equi-join → per-pair intersection counts — docs sharing
    no shingle never meet, so no cross join), but scored per
    DIRECTION: a pair is emitted when either side is ≥ 80% contained
    in the other; ``subset_doc`` names the contained side (ties →
    both directions exceed the bar → the smaller set, then the lower
    id). One shuffle for the pair counts, two broadcast-sized joins
    for the sizes — identical scale posture to the Jaccard variant.
    """
    sh = _shingle_df(spark, sf_dir)
    cont_a = F.round(F.col("inter") / F.col("na"), 6)
    cont_b = F.round(F.col("inter") / F.col("nb"), 6)
    return (
        _shingle_overlaps(sh)
        .withColumn("cont_a_in_b", cont_a)
        .withColumn("cont_b_in_a", cont_b)
        .filter(
            (F.col("cont_a_in_b") >= CONTAINMENT_THRESHOLD)
            | (F.col("cont_b_in_a") >= CONTAINMENT_THRESHOLD)
        )
        .withColumn(
            "subset_doc",
            F.when(F.col("na") < F.col("nb"), F.col("doc_a"))
            .when(F.col("nb") < F.col("na"), F.col("doc_b"))
            .otherwise(F.least("doc_a", "doc_b")),
        )
        .select("doc_a", "doc_b", "cont_a_in_b", "cont_b_in_a", "subset_doc")
    )


DEDUP_CONTAINMENT_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / sa.n, 6) AS cont_a_in_b,
       round(inter * 1.0 / sb.n, 6) AS cont_b_in_a,
       CASE WHEN sa.n < sb.n THEN doc_a
            WHEN sb.n < sa.n THEN doc_b
            ELSE least(doc_a, doc_b) END AS subset_doc
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(inter * 1.0 / sa.n, 6) >= {CONTAINMENT_THRESHOLD}
   OR round(inter * 1.0 / sb.n, 6) >= {CONTAINMENT_THRESHOLD}
"""

SPECS.append(
    QuerySpec(
        "dedup_containment",
        dedup_containment,
        DEDUP_CONTAINMENT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dedup_substring_spans — shared long-token-span detection
# ---------------------------------------------------------------------------

SPAN_N = 8  # tokens per span gram
SPAN_MIN_SHARED = 3  # report pairs sharing at least this many span grams


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication detector (the "dedup spans, not
    docs" signal of Lee et al. 2022's exact-substring pass): every
    positional 8-token window is a gram; documents sharing ≥3 grams
    are reported with the volume of overlap and the earliest
    positions on both sides. Near-identical boilerplate that whole-doc
    Jaccard dilutes (one shared paragraph in long docs) shows up here.

    Shape: explode windows (narrow), collapse to per-(doc, gram)
    min-position (map-side combinable), one equi-join on the gram —
    never an O(n²) doc cross join. At 100 TB the gram column would be
    a 16-byte hash instead of the text (same plan, thinner shuffle).
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(toks) >= SPAN_N, F.sequence(F.lit(1), F.size(toks) - (SPAN_N - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        docs.select(
            "doc_id", F.explode(idx).alias("pos"), toks.alias("t")
        )
        .select(
            "doc_id",
            "pos",
            F.array_join(F.slice(F.col("t"), F.col("pos"), SPAN_N), " ").alias("gram"),
        )
        .groupBy("doc_id", "gram")
        .agg(F.min("pos").alias("pos"))
    )
    a = grams.alias("a")
    b = grams.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared_grams"),
            F.min(F.col("a.pos")).alias("first_pos_a"),
            F.min(F.col("b.pos")).alias("first_pos_b"),
        )
        .filter(F.col("n_shared_grams") >= SPAN_MIN_SHARED)
    )


DEDUP_SUBSTRING_SPANS_ORACLE = f"""
WITH grams AS (
    SELECT doc_id, gram, CAST(MIN(pos) AS INTEGER) AS pos FROM (
        SELECT doc_id,
               unnest(generate_series(1, greatest(len(t) - {SPAN_N - 1}, 0))) AS pos,
               t
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ) exploded
    CROSS JOIN LATERAL (
        SELECT array_to_string(t[pos:pos + {SPAN_N - 1}], ' ') AS gram
    ) g
    GROUP BY doc_id, gram
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_grams,
       MIN(a.pos) AS first_pos_a, MIN(b.pos) AS first_pos_b
FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {SPAN_MIN_SHARED}
"""

SPECS.append(
    QuerySpec(
        "dedup_substring_spans",
        dedup_substring_spans,
        DEDUP_SUBSTRING_SPANS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dedup_incremental_minhash — daily-ingest dedup against a standing index
# ---------------------------------------------------------------------------

_DELTA_MOD = 10  # h32(doc_id) % 10 == 0 → today's arrivals (~10%)


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection — the PRODUCTION shape of
    corpus dedup: a standing MinHash band INDEX over the existing
    corpus is materialized once (parquet, partition-pruned reads);
    each ingest batch computes bands for the NEW docs only and joins
    them against index ∪ batch, so the work per day is
    O(batch × collision rate), never a full-corpus re-dedup. Output:
    verified near-dup pairs with at least one member in the batch
    (exact Jaccard on candidates, same contract as
    ``dedup_minhash_lsh``). The batch split is deterministic
    (h32(doc_id) % 10 == 0, the ``dedup_decontaminate`` convention),
    so the whole pipeline has an exact SQL oracle. At 100 TB the
    index is the only state the pipeline keeps; appending today's
    bands to it (one partition write) rolls the window forward."""
    sh = persist(_shingle_df(spark, sf_dir))  # (b) scans 2 -> 3 without it
    is_delta = h32(F.col("doc_id").cast("string")) % _DELTA_MOD == 0

    import os  # noqa: PLC0415

    from ._helpers import workdir  # noqa: PLC0415

    idx_path = os.path.join(workdir(sf_dir, "minhash_index"), "bands")
    if not os.path.exists(os.path.join(idx_path, "_SUCCESS")):
        _bands_from_shingles(sh.filter(~is_delta)).write.mode(
            "overwrite"
        ).parquet(idx_path)
    base_bands = spark.read.parquet(idx_path)
    # (b) shuffles 8 -> 9 without it
    delta_bands = persist(_bands_from_shingles(sh.filter(is_delta)))
    all_bands = base_bands.unionByName(delta_bands)
    cand = (
        delta_bands.alias("d")
        .join(all_bands.alias("o"), ["band_idx", "sig"])
        .filter(F.col("d.doc_id") != F.col("o.doc_id"))
        .select(
            F.least(F.col("d.doc_id"), F.col("o.doc_id")).alias("doc_a"),
            F.greatest(F.col("d.doc_id"), F.col("o.doc_id")).alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _verified_pairs(sh, cand)


def _incremental_minhash_oracle() -> str:
    base = _minhash_oracle()
    delta_pred = _SQL_H32.format(expr="CAST({c} AS VARCHAR)") + f" % {_DELTA_MOD} = 0"
    return base.replace(
        "ON x.band_idx = y.band_idx AND x.sig = y.sig AND x.doc_id < y.doc_id",
        "ON x.band_idx = y.band_idx AND x.sig = y.sig AND x.doc_id < y.doc_id\n"
        f"    WHERE ({delta_pred.format(c='x.doc_id')})"
        f" OR ({delta_pred.format(c='y.doc_id')})",
    )


SPECS.append(
    QuerySpec(
        "dedup_incremental_minhash",
        dedup_incremental_minhash,
        _incremental_minhash_oracle(),
    )
)


# ---------------------------------------------------------------------------
# dedup_minhash_bbit — b-bit minhash estimates vs exact Jaccard
# ---------------------------------------------------------------------------

_BBIT = 2  # keep the lowest 2 bits of each of the 64 min slots


def dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-BIT minhash (Li & König 2010): store only the lowest b=2
    bits of each of the k=64 minhash slots — a 16-byte signature per
    doc instead of 256 — and estimate Jaccard from the bit-collision
    rate with the collision correction J ≈ (match − C)/(1 − C),
    C = 2^-b: the storage/accuracy dial corpus-scale dedup actually
    tunes (GPU-era pipelines run b=1..4). The op emits, for every
    exact-Jaccard pair above threshold, the exact value next to the
    b-bit match fraction and the corrected estimate — the estimator's
    bias/variance is VISIBLE and hash-checked, because the min slots
    are deterministic arithmetic both engines reproduce exactly (no
    verdict booleans needed, unlike engine-internal sketches).

    Plan: the 64-slot min aggregate is the same one-shuffle signature
    build as `dedup_minhash_lsh`; pairs join their two signature rows
    and the 64 two-bit comparisons fold row-locally."""
    from .relational import SPECS as _  # noqa: F401  (import cycle guard no-op)

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.col("jaccard").alias("exact_jaccard")
    )
    sh = _shingle_df(spark, sf_dir)
    sh_hashed = sh.withColumn("h", h32(F.col("shingle")) % F.lit(P31))
    mins = sh_hashed.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i]))
                % F.lit(P31)
            ).alias(f"m{i}")
            for i in range(_K)
        ]
    )
    a = mins.select(
        F.col("doc_id").alias("doc_a"),
        *[(F.col(f"m{i}") % (1 << _BBIT)).alias(f"a{i}") for i in range(_K)],
    )
    b = mins.select(
        F.col("doc_id").alias("doc_b"),
        *[(F.col(f"m{i}") % (1 << _BBIT)).alias(f"b{i}") for i in range(_K)],
    )
    match_cnt = None
    for i in range(_K):
        t = (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        match_cnt = t if match_cnt is None else match_cnt + t
    c = 1.0 / (1 << _BBIT)
    frac = match_cnt / F.lit(float(_K))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "exact_jaccard",
            F.round(frac, 6).alias("bbit_match_frac"),
            F.round((frac - F.lit(c)) / F.lit(1.0 - c), 6).alias("bbit_estimate"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _bbit_oracle() -> str:
    mins = ", ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {P31}) AS m{i}"
        for i in range(_K)
    )
    matches = " + ".join(
        f"(CASE WHEN a.m{i} % {1 << _BBIT} = b.m{i} % {1 << _BBIT}"
        f" THEN 1 ELSE 0 END)"
        for i in range(_K)
    )
    c = 1.0 / (1 << _BBIT)
    return f"""
WITH sh AS MATERIALIZED ({_SQL_SHINGLES}),
sizes AS MATERIALIZED (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
),
pairs AS MATERIALIZED (
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS exact_jaccard
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 6) >= {JACCARD_THRESHOLD}
),
hashed AS MATERIALIZED (
    SELECT doc_id, {_SQL_H32.format(expr="shingle")} % {P31} AS h FROM sh
),
mins AS MATERIALIZED (
    SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
)
SELECT p.doc_a, p.doc_b, p.exact_jaccard,
       round(({matches}) / {float(_K)}, 6) AS bbit_match_frac,
       round((({matches}) / {float(_K)} - {c}) / {1.0 - c}, 6) AS bbit_estimate
FROM pairs p
JOIN mins a ON p.doc_a = a.doc_id
JOIN mins b ON p.doc_b = b.doc_id
ORDER BY p.doc_a, p.doc_b
"""


SPECS.append(
    QuerySpec(
        "dedup_minhash_bbit",
        dedup_minhash_bbit,
        _bbit_oracle(),
    )
)


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup via embedding clusters (Abbas et al. 2023,
# arXiv:2303.09540)
# ---------------------------------------------------------------------------

SEMDEDUP_K_MIN = 8  # floor — the sf-fixture value (500–2000 vectors → K=8)
SEMDEDUP_CLUSTER_TARGET = 256  # target mean cluster size: K = max(8, n/256)
SEMDEDUP_TAU = 0.40  # intra-cluster cosine above which a pair is semantic-dup


def _semdedup_k(n: int) -> int:
    """K as a function of corpus cardinality (VERDICT r2 item 3).

    SemDeDup's intra-cluster pair space is O(n²/K); a constant K makes
    the per-cluster join quadratic in corpus growth. Scaling K with n
    keeps mean cluster size — and therefore per-cluster join cost —
    constant at ~SEMDEDUP_CLUSTER_TARGET rows (the paper runs K≈100k
    for LAION-scale, i.e. the same n/K≈O(10³) regime). Every fixture
    SF lands on the floor K=8 (500/500/2000 vectors), so the DuckDB
    oracle (which derives K identically in SQL) is unchanged there."""
    return max(SEMDEDUP_K_MIN, n // SEMDEDUP_CLUSTER_TARGET)


def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding corpus,
    then mark intra-cluster semantic duplicates — pairs with cosine
    ≥ τ — keeping, per the paper's rule, the member with the LOWEST
    similarity to its cluster centroid (ties by vec_id). Output is
    the full audit relation ``(vec_id, cluster, centroid_sim,
    kept)`` so downstream filters are a single equi-join.

    Clustering is the deterministic seed-centroid assignment (the
    ``sim_centroid_assign`` shape: centroids broadcast as ONE
    collected row, assignment a narrow map over the corpus — no
    shuffle of the embedding side). The pairwise cosine check is an
    EQUI self-join on the cluster id: per-cluster pair spaces, not a
    corpus crossJoin. 100 TB posture: K = max(8, n/256) scales with
    corpus size (``_semdedup_k``) so mean cluster cardinality — and
    the per-cluster O(n²/K²) pair space — stays bounded (the paper
    runs K≈100k for LAION-scale, same n/K regime); each cluster is
    one hash-join partition and AQE splits skewed ones. The one
    driver-side action is the count() that parameterizes K — a
    single-number aggregate, the same class of plan-statistics read
    AQE itself performs. The generalization of the reference's
    pervasive id-dedup (x2.2.py dedup loops, SURVEY §2.4) to
    embedding space.
    """
    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    k = _semdedup_k(emb.count())
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("embedding").alias("c")
    )
    cents1 = cents.agg(F.collect_list(F.struct("cluster", "c")).alias("cents"))
    # Nearest-centroid assignment as a FOLD over the broadcast centroid
    # array (optimization r10, guide §2.4 "remove shuffles outright"):
    # the former explode + row_number() shape shuffled K·n rows — each
    # carrying a 64-double embedding — just to pick a per-vector argmax
    # the row can compute locally. One transform (K dots, same count as
    # before) + one argmax fold is a pure map: the assignment stage now
    # has ZERO exchanges. The (sim DESC, cluster ASC) tiebreak is a
    # total order, so the fold result is independent of collect_list's
    # nondeterministic centroid order — same winner as row_number()=1.
    sims = F.transform(
        "cents",
        lambda cand: F.struct(
            cand["cluster"].alias("cluster"),
            F.round(_dot(F.col("embedding"), cand["c"]), 6).alias("sim"),
        ),
    )
    best = F.aggregate(
        sims,
        F.struct(
            F.lit(-1).cast("int").alias("cluster"),
            F.lit(float("-inf")).alias("sim"),
        ),
        lambda acc, x: F.when(
            (x["sim"] > acc["sim"])
            | ((x["sim"] == acc["sim"]) & (x["cluster"] < acc["cluster"])),
            x,
        ).otherwise(acc),
    )
    # (b) scans 3 -> 4 and shuffles 7 -> 8 without it
    assigned = persist(
        emb.crossJoin(cents1)
        .select("vec_id", "embedding", best.alias("b"))
        .select(
            "vec_id",
            "embedding",
            F.col("b.cluster").alias("cluster"),
            F.col("b.sim").alias("centroid_sim"),
        )
    )
    v = assigned.select(
        F.col("vec_id"), "embedding", "cluster", "centroid_sim"
    )
    u = assigned.select(
        F.col("vec_id").alias("u_id"),
        F.col("embedding").alias("u_emb"),
        F.col("cluster").alias("u_cluster"),
        F.col("centroid_sim").alias("u_csim"),
    )
    # Intra-cluster pairs enumerated UNORDERED (vec_id < u_id), half the
    # former both-directions join output, so every pairwise cosine is
    # computed once instead of twice (optimization r10, guide §1.2
    # step 1 "don't compute things you throw away"). Exactly one member
    # of each qualifying pair is dropped — the loser under the paper's
    # (centroid_sim ASC, vec_id ASC) keep order — which with
    # vec_id < u_id everywhere reduces to: u_id loses unless its
    # centroid_sim is strictly lower. Same drop set as evaluating
    # keep_low over both orientations.
    loser = F.when(
        F.col("centroid_sim") <= F.col("u_csim"), F.col("u_id")
    ).otherwise(F.col("vec_id"))
    dropped = (
        v.join(u, (v["cluster"] == u["u_cluster"]) & (v["vec_id"] < u["u_id"]))
        .filter(F.round(_dot(F.col("embedding"), F.col("u_emb")), 6) >= SEMDEDUP_TAU)
        .select(loser.alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        assigned.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            "centroid_sim",
            F.when(F.col("is_dup").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("kept"),
        )
    )


DEDUP_SEMDEDUP_ORACLE = f"""
WITH pts AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
),
cents AS (
    -- K derived from corpus cardinality exactly as _semdedup_k():
    -- max(K_MIN, n // CLUSTER_TARGET)
    SELECT CAST(vec_id AS INT) AS cluster, embedding AS c
    FROM pts WHERE vec_id < (
        SELECT greatest({SEMDEDUP_K_MIN}, count(*) // {SEMDEDUP_CLUSTER_TARGET})
        FROM pts
    )
),
assigned AS (
    SELECT vec_id, embedding, cluster, sim AS centroid_sim FROM (
        SELECT p.vec_id, p.embedding, c.cluster,
               round(list_dot_product(p.embedding, c.c), 6) AS sim,
               row_number() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY round(list_dot_product(p.embedding, c.c), 6) DESC,
                            c.cluster
               ) AS rn
        FROM pts p CROSS JOIN cents c
    ) WHERE rn = 1
),
dropped AS (
    SELECT DISTINCT v.vec_id
    FROM assigned v JOIN assigned u USING (cluster)
    WHERE u.vec_id <> v.vec_id
      AND round(list_dot_product(u.embedding, v.embedding), 6) >= {SEMDEDUP_TAU}
      AND (u.centroid_sim < v.centroid_sim
           OR (u.centroid_sim = v.centroid_sim AND u.vec_id < v.vec_id))
)
SELECT a.vec_id, a.cluster, a.centroid_sim,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


SPECS.append(
    QuerySpec(
        "dedup_semdedup",
        dedup_semdedup,
        DEDUP_SEMDEDUP_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dedup_fellegi_sunter — probabilistic record-linkage weight table
# ---------------------------------------------------------------------------

# (m, u-source-field) per comparison field; m is the trained
# P(agree | match) a production linker fits offline with EM — fixed
# literals here so both engines score identically.
_FS_M = {"type": "0.95", "band": "0.90", "tok": "0.90"}


def dedup_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969; the
    Splink/dedupe.io model) over the part catalog: candidate pairs
    from (brand, size) blocking are compared on three fields — type,
    price band, first name token — and scored with log-likelihood
    weights ``agree → log2(m/u)``, ``disagree → log2((1−m)/(1−u))``.
    u-probabilities (P(agree | random pair)) are EXACT from the
    field's value histogram: ``u = Σ c_v(c_v−1) / N(N−1)``; m is the
    fixed trained constant. Output is the 2³ agreement-pattern WEIGHT
    TABLE (pattern, pair count, total weight) — the artifact a linker
    thresholds on; listing matched pairs is then a filter.

    Determinism: pair counts are exact integers; each field weight is
    one ``round(log2(·), 12)`` DECIMAL (the package's last-ulp
    argument), so pattern weights are exact 3-term DECIMAL sums.
    Scale: blocking keeps the self-join quadratic only within
    (brand, size) blocks (≤ tens of rows each — 160k pairs at sf0.1
    vs 200M unblocked); u-statistics are one histogram aggregation
    per field. Blocking-key skew would route through the same salting
    as join_skew_salted."""
    parts = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        "p_type",
        F.floor(F.col("p_retailprice") / 100).cast("bigint").alias("band"),
        F.split(F.col("p_name"), " ").getItem(0).alias("tok"),
    )
    n_tot = parts.agg(
        (
            F.count(F.lit(1)).cast("decimal(38,0)")
            * (F.count(F.lit(1)).cast("decimal(38,0)") - 1)
        ).alias("denom")
    )

    def u_of(field: str, src: str) -> DataFrame:
        return (
            parts.groupBy(src)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(
                    F.col("c").cast("decimal(38,0)") * (F.col("c") - 1)
                ).alias("num")
            )
            .crossJoin(n_tot)
            .select(
                (F.col("num").cast("double") / F.col("denom").cast("double")).alias(
                    f"u_{field}"
                )
            )
        )

    us = (
        u_of("type", "p_type")
        .crossJoin(u_of("band", "band"))
        .crossJoin(u_of("tok", "tok"))
    )
    a = parts.alias("a")
    b = parts.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        (F.col("a.p_type") == F.col("b.p_type")).alias("agree_type"),
        (F.col("a.band") == F.col("b.band")).alias("agree_band"),
        (F.col("a.tok") == F.col("b.tok")).alias("agree_tok"),
    )

    def w(field: str) -> F.Column:
        m = F.lit(float(_FS_M[field]))
        u = F.col(f"u_{field}")
        return F.when(
            F.col(f"agree_{field}"), F.round(F.log2(m / u), 12)
        ).otherwise(
            F.round(F.log2((F.lit(1.0) - m) / (F.lit(1.0) - u)), 12)
        ).cast("decimal(24,12)")

    scored = pairs.crossJoin(F.broadcast(us)).select(
        "agree_type",
        "agree_band",
        "agree_tok",
        (w("type") + w("band") + w("tok")).alias("weight"),
    )
    return (
        scored.groupBy("agree_type", "agree_band", "agree_tok")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.max("weight").cast("double"), 6).alias("weight"),
        )
        .orderBy("agree_type", "agree_band", "agree_tok")
    )


def _fs_oracle() -> str:
    m = {k: float(v) for k, v in _FS_M.items()}
    u_ctes = """
n_tot AS (SELECT CAST(COUNT(*) AS DECIMAL(38,0))
                 * (CAST(COUNT(*) AS DECIMAL(38,0)) - 1) AS denom FROM p),
u_type AS (SELECT CAST(SUM(CAST(c AS DECIMAL(38,0)) * (c - 1)) AS DOUBLE)
                  / CAST((SELECT denom FROM n_tot) AS DOUBLE) AS u
           FROM (SELECT COUNT(*) AS c FROM p GROUP BY p_type)),
u_band AS (SELECT CAST(SUM(CAST(c AS DECIMAL(38,0)) * (c - 1)) AS DOUBLE)
                  / CAST((SELECT denom FROM n_tot) AS DOUBLE) AS u
           FROM (SELECT COUNT(*) AS c FROM p GROUP BY band)),
u_tok AS (SELECT CAST(SUM(CAST(c AS DECIMAL(38,0)) * (c - 1)) AS DOUBLE)
                 / CAST((SELECT denom FROM n_tot) AS DOUBLE) AS u
          FROM (SELECT COUNT(*) AS c FROM p GROUP BY tok))"""
    w_terms = []
    for f in ("type", "band", "tok"):
        w_terms.append(
            f"CAST(CASE WHEN agree_{f} THEN round(log2({m[f]} / u_{f}.u), 12)"
            f" ELSE round(log2({1.0 - m[f]!r} / (1 - u_{f}.u)), 12) END"
            f" AS DECIMAL(24,12))"
        )
    weight = " + ".join(w_terms)
    return f"""
WITH p AS MATERIALIZED (
    SELECT p_partkey, p_brand, p_size, p_type,
           CAST(floor(p_retailprice / 100) AS BIGINT) AS band,
           string_split(p_name, ' ')[1] AS tok
    FROM part
),
{u_ctes},
pairs AS (
    SELECT a.p_type = b.p_type AS agree_type,
           a.band = b.band AS agree_band,
           a.tok = b.tok AS agree_tok
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
)
SELECT agree_type, agree_band, agree_tok,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(CAST(MAX({weight}) AS DOUBLE), 6) AS weight
FROM pairs CROSS JOIN u_type CROSS JOIN u_band CROSS JOIN u_tok
GROUP BY agree_type, agree_band, agree_tok
ORDER BY agree_type, agree_band, agree_tok
"""


SPECS.append(
    QuerySpec(
        "dedup_fellegi_sunter",
        dedup_fellegi_sunter,
        _fs_oracle(),
    )
)


# ---------------------------------------------------------------------------
# dedup_token_sort — order-insensitive exact duplicate groups
# ---------------------------------------------------------------------------


def dedup_token_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sort duplicate detection (the fuzzywuzzy token_sort
    idea, exact form): documents whose SORTED token multisets are
    identical are duplicates regardless of word order — the gap
    between `dedup_exact` (order-sensitive bytes) and the Jaccard
    family (order-insensitive but approximate-threshold). Canonical
    key = md5 of the sorted token array; output is every group of
    ≥2 docs with its size and surviving min doc_id — directly
    consumable as a dedup keep-list.

    Shape: one narrow map (split → array_sort → hash — codegen,
    per-row cost only) and ONE group-by on the 16-byte key; at
    100 TB this is exactly the `dedup_exact` plan with a different
    canonicalization. Sorting happens inside each row's array, never
    across rows."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(F.split("text", " ")))).alias("key"),
    )
    groups = (
        docs.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return groups.select(
        "key",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("keep_doc").cast("bigint").alias("keep_doc"),
        F.col("max_doc").cast("bigint").alias("max_doc"),
    ).orderBy("key")


DEDUP_TOKEN_SORT_ORACLE = """
WITH keyed AS (
    SELECT doc_id,
           md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS key
    FROM documents
)
SELECT key,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM keyed GROUP BY key HAVING COUNT(*) >= 2
ORDER BY key
"""

SPECS.append(
    QuerySpec(
        "dedup_token_sort",
        dedup_token_sort,
        DEDUP_TOKEN_SORT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Corpus-level overlap matrix (source × source MinHash)
# ---------------------------------------------------------------------------


def sim_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise corpus overlap between SOURCES, estimated from one
    MinHash signature per source — the corpus-level twin of the
    per-document MinHash dedup above, and the standard way to answer
    "how much does crawl A overlap crawl B?" before mixing corpora
    into a training run (the reference's per-entity `dedup_by_id`
    has no corpus-level analog; this extends SURVEY §2.4 upward).

    Scale posture: each source's signature is 64 MINs over its
    shingle hashes — a map-side-combining groupBy("source"), one
    narrow shuffle of 64 longs per source regardless of corpus size.
    The pair matrix joins only the tiny signature table (S rows →
    S² /2 pairs of 64-long arrays, broadcast), never the documents.
    Signatures are mergeable (min is associative), so per-shard
    signatures union incrementally as new crawl shards land.

    Estimator: est_jaccard = |matching slots| / K (Broder's
    collision probability). Same hash family as ``_minhash_oracle``
    so even the internals hash-match the DuckDB twin.
    """
    docs = spread(load(spark, sf_dir, "documents")).select(
        "source", F.split("text", " ").alias("toks")
    )
    sh = docs.select(
        "source", F.explode(_shingles(F.col("toks"))).alias("shingle")
    ).select("source", (h32(F.col("shingle")) % F.lit(P31)).alias("h"))
    # 64 min-slots as ONE parsed expr (optimization r10): identical
    # expressions to the per-Column loop, ~400 fewer py4j round trips
    # at plan-build time (see _bands_from_shingles).
    min_exprs = ", ".join(
        f"min(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {P31}) AS m{i}"
        for i in range(_K)
    )
    mins = sh.groupBy("source").agg(F.expr(f"struct({min_exprs})").alias("s"))
    sig = mins.select(
        "source",
        F.expr(f"array({', '.join(f's.m{i}' for i in range(_K))})").alias("sig"),
    )
    a = sig.select(F.col("source").alias("source_a"), F.col("sig").alias("sig_a"))
    b = sig.select(F.col("source").alias("source_b"), F.col("sig").alias("sig_b"))
    n_match = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select("source_a", "source_b", n_match.alias("n_match"))
        .withColumn("est_jaccard", F.round(F.col("n_match") / F.lit(_K), 6))
    )


def _corpus_overlap_oracle() -> str:
    min_exprs = ",\n           ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {P31}) AS m{i}"
        for i in range(_K)
    )
    match_terms = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(_K)
    )
    return f"""
WITH sh AS (
    SELECT source,
           unnest(list_distinct([
               t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               FOR i IN generate_series(1, greatest(len(t) - 2, 0))
           ])) AS shingle
    FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
),
hashed AS (
    SELECT source, {_SQL_H32.format(expr="shingle")} % {P31} AS h FROM sh
),
mins AS (
    SELECT source, {min_exprs}
    FROM hashed GROUP BY source
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST({match_terms} AS INTEGER) AS n_match,
       round(({match_terms}) / {_K}.0, 6) AS est_jaccard
FROM mins a JOIN mins b ON a.source < b.source
"""


SPECS.append(
    QuerySpec(
        "sim_corpus_overlap",
        sim_corpus_overlap,
        _corpus_overlap_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Jaro-Winkler linkage scores (cross-implementation hash check)
# ---------------------------------------------------------------------------


def _jw_scalar():
    """The scalar Jaro-Winkler (closure-wrapped for by-value
    pickling): textbook Jaro (half-window matching,
    half-transpositions) + Winkler prefix boost (scale 0.1, prefix
    cap 4, boost only when jaro > 0.7) — the SAME definition DuckDB's
    ``jaro_winkler_similarity`` implements, so the oracle is a true
    cross-IMPLEMENTATION check: an independent C++ codebase must
    reproduce this Python's every rounded score (fuzz-extended over
    arbitrary strings in tests/test_properties.py)."""

    def jw(a: str, b: str) -> float:
        la, lb = len(a), len(b)
        if la == 0 or lb == 0:  # DuckDB: empty vs anything (incl. empty) is 0
            return 0.0
        if a == b:
            return 1.0
        win = max(la, lb) // 2 - 1
        ma = [False] * la
        mb = [False] * lb
        m = 0
        for i in range(la):
            lo, hi = max(0, i - win), min(lb, i + win + 1)
            for j in range(lo, hi):
                if not mb[j] and a[i] == b[j]:
                    ma[i] = mb[j] = True
                    m += 1
                    break
        if m == 0:
            return 0.0
        t = 0
        j = 0
        for i in range(la):
            if ma[i]:
                while not mb[j]:
                    j += 1
                if a[i] != b[j]:
                    t += 1
                j += 1
        # DuckDB (and Apache Commons) FLOOR the half-transposition
        # count — with an odd number of mismatched matched positions,
        # t/2 would overcount by 0.5 (caught by the hypothesis fuzz:
        # '000006D' vs '0000D06' has t=3 → 1, not 1.5)
        jaro = (m / la + m / lb + (m - t // 2) / m) / 3
        if jaro > 0.7:
            p = 0
            for i in range(min(4, la, lb)):
                if a[i] == b[i]:
                    p += 1
                else:
                    break
            jaro += p * 0.1 * (1 - jaro)
        return jaro

    return jw


def _jaro_winkler_udf():
    """Arrow-vectorized wrapper over ``_jw_scalar``."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    jw = _jw_scalar()

    @pandas_udf("double")
    def jw_vec(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([round(jw(x, y), 6) for x, y in zip(a, b)])

    return jw_vec


def dedup_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler linkage scoring over the part-name dictionary —
    the record-linkage similarity (Census/Fellegi-Sunter lineage)
    complementing the Levenshtein family: tolerant of transpositions,
    prefix-weighted, length-normalized. Blocking: shared first token
    + |len| ≤ 3 band turned into an equi-join (dictionary-sized, like
    ``dedup_levenshtein``); every blocked pair is scored by an
    Arrow-batched pandas UDF and EVERY rounded score must hash-match
    DuckDB's independent C++ implementation — a stronger check than a
    threshold filter (224 full-precision agreements, not 2)."""
    import pandas as _pd  # noqa: F401, PLC0415

    names = (
        load(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .select(
            "p_name",
            F.split("p_name", " ").getItem(0).alias("tok1"),
            F.length("p_name").alias("l"),
        )
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        "tok1",
        F.explode(F.sequence(F.col("l") - 3, F.col("l") + 3)).alias("lb"),
    )
    b = names.select(F.col("p_name").alias("name_b"), "tok1", F.col("l").alias("lb"))
    jw = _jaro_winkler_udf()
    return (
        a.join(b, ["tok1", "lb"])
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", jw(F.col("name_a"), F.col("name_b")).alias("jw"))
    )


DEDUP_JARO_WINKLER_ORACLE = """
WITH names AS (
    SELECT DISTINCT p_name, string_split(p_name, ' ')[1] AS tok1,
           length(p_name) AS l
    FROM part
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
FROM names a JOIN names b
  ON a.tok1 = b.tok1 AND a.p_name < b.p_name AND abs(a.l - b.l) <= 3
"""

SPECS.append(
    QuerySpec(
        "dedup_jaro_winkler",
        dedup_jaro_winkler,
        DEDUP_JARO_WINKLER_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dedup_bloom_archive — portable Bloom-filter dedup vs an archive
# ---------------------------------------------------------------------------

_BF_K = 5         # hash functions
_BF_BITS_PER_KEY = 16  # m = 16·n_keys → ~31% fill, FPP ≈ 0.3%


def dedup_bloom_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup of incoming documents against an archive via a BLOOM
    filter — the membership pattern for "have I seen this content?"
    at 100 TB, where the archive's exact hash set is too big to
    broadcast but its Bloom filter (m bits) always fits. The filter
    is built PORTABLY: k=5 bit positions per content hash derived
    from the shared h32, the filter is the distinct-position set, and
    an incoming doc is 'maybe seen' iff all k of its positions are
    present — identical semantics in both engines, so even the FALSE
    POSITIVES hash-match the oracle (m is sized small on purpose so
    the fixture exercises them).

    Output is the per-batch audit: incoming count, exact dups
    (ground truth via hash anti-join), Bloom maybes, and measured
    false positives. Structural guarantee — no false negative is
    possible (every archived key set all its bits) — is pinned by an
    invariant test, and `exact_seen <= bloom_maybe` is visible in the
    row itself.

    Scale shape: the filter build is one distinct-agg over the
    archive (output ≤ m rows — broadcastable by construction); the
    membership test is a broadcast semi-join per position with a
    count==k gate; ground truth is a hash semi-join. No UDFs, no
    driver state."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    canon_h = h32(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    keyed = docs.select("doc_id", canon_h.alias("h"))
    archive = keyed.filter(F.col("doc_id") % 3 != 0)
    incoming = keyed.filter(F.col("doc_id") % 3 == 0)
    m_row = archive.agg(
        (F.countDistinct("h") * _BF_BITS_PER_KEY).alias("m_bits")
    )

    def positions(df):
        return df.join(m_row).select(
            "doc_id",
            "h",
            F.explode(
                F.array(
                    *[
                        (h32(F.concat(F.lit(f"bf{i}:"), F.col("h").cast("string")))
                         % F.col("m_bits")).alias("p")
                        for i in range(_BF_K)
                    ]
                )
            ).alias("pos"),
        )

    bloom_bits = positions(archive).select("pos").distinct()
    hits = (
        positions(incoming)
        .join(F.broadcast(bloom_bits), "pos")
        .groupBy("doc_id", "h")
        .agg(F.countDistinct("pos").alias("k_hit"))
        .filter(F.col("k_hit") == _BF_K)
        .select("doc_id")
    )
    exact = incoming.join(
        archive.select("h").distinct(), "h", "left_semi"
    ).select("doc_id")
    flagged = (
        incoming.select("doc_id")
        .join(hits.withColumn("bloom_maybe", F.lit(1)), "doc_id", "left")
        .join(exact.withColumn("exact_seen", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("bloom_maybe", F.lit(0)).alias("bloom_maybe"),
            F.coalesce("exact_seen", F.lit(0)).alias("exact_seen"),
        )
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_incoming"),
        F.sum("exact_seen").cast("bigint").alias("n_exact_seen"),
        F.sum("bloom_maybe").cast("bigint").alias("n_bloom_maybe"),
        F.sum(
            F.when((F.col("bloom_maybe") == 1) & (F.col("exact_seen") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_pos"),
    )


def _bloom_pos_sql(h_expr: str, i: int) -> str:
    return (
        f"('0x' || substring(md5('bf{i}:' || CAST({h_expr} AS VARCHAR)), 1, 8))::BIGINT"
        f" % (SELECT m_bits FROM m)"
    )


def _bloom_oracle() -> str:
    canon = (
        "('0x' || substring(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))),"
        " 1, 8))::BIGINT"
    )
    pos_rows = ", ".join(f"({_bloom_pos_sql('h', i)})" for i in range(_BF_K))
    return f"""
WITH keyed AS (
    SELECT doc_id, {canon} AS h FROM documents
),
archive AS (SELECT * FROM keyed WHERE doc_id % 3 <> 0),
incoming AS (SELECT * FROM keyed WHERE doc_id % 3 = 0),
m AS (SELECT COUNT(DISTINCT h) * {_BF_BITS_PER_KEY} AS m_bits FROM archive),
bloom_bits AS (
    SELECT DISTINCT unnest([{pos_rows}]) AS pos FROM archive
),
inc_pos AS (
    SELECT doc_id, h, unnest([{pos_rows}]) AS pos FROM incoming
),
hits AS (
    SELECT doc_id FROM (
        SELECT i.doc_id, COUNT(DISTINCT i.pos) AS k_hit
        FROM inc_pos i JOIN bloom_bits b USING (pos)
        GROUP BY i.doc_id
    ) WHERE k_hit = {_BF_K}
),
exact AS (
    SELECT DISTINCT i.doc_id FROM incoming i
    WHERE i.h IN (SELECT h FROM archive)
),
flagged AS (
    SELECT k.doc_id,
           CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END AS bloom_maybe,
           CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact_seen
    FROM incoming k
    LEFT JOIN hits h ON k.doc_id = h.doc_id
    LEFT JOIN exact e ON k.doc_id = e.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_incoming,
       CAST(SUM(exact_seen) AS BIGINT) AS n_exact_seen,
       CAST(SUM(bloom_maybe) AS BIGINT) AS n_bloom_maybe,
       CAST(SUM(CASE WHEN bloom_maybe = 1 AND exact_seen = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos
FROM flagged
"""


SPECS.append(
    QuerySpec(
        "dedup_bloom_archive",
        dedup_bloom_archive,
        _bloom_oracle(),
    )
)


# ---------------------------------------------------------------------------
# dedup_minhash_oph — one-permutation MinHash with rotation densification
# ---------------------------------------------------------------------------

_OPH_K = 32              # signature bins
_OPH_C = 1_000_003       # densification offset multiplier (prime)
_OPH_PACK = 1 << 33      # packs (rotation distance, value) into one BIGINT


def dedup_minhash_oph(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """One-Permutation Hashing MinHash (Li, Owen, Zhang NIPS'12) with
    rotation densification (Shrivastava & Li ICML'14): ONE hash per
    shingle, binned into K=32 slots whose per-slot minima form the
    signature — versus the classic K-hashes-per-shingle signature in
    ``dedup_minhash_lsh`` this is a K× cheaper signature pass, which
    is exactly the term that dominates MinHash cost at 100 TB. Empty
    bins borrow the next non-empty bin's value cyclically, offset by
    the rotation distance so borrowed values never fake a match.

    The op audits the estimator where ground truth exists: for every
    exact-verified near-dup pair, the matching-bin estimate vs the
    exact Jaccard (both in permille, pure integers). Densification is
    a bounded K×K-per-doc self-join (a CONSTANT 1024 rows per doc —
    linear overall); the estimate join is signature-sized. Everything
    is integer arithmetic on the shared h32, so both engines produce
    the identical signature, bin for bin.

    SCALE CLIFF (found by the round-10 100x rehearsal): the AUDIT's
    ground-truth pair source is the exact set-similarity join, which
    is quadratic in per-shingle document frequency — linear-looking
    at 10x, a >50x blowup at 100x (shared shingles appear in every
    shard, so frequency grows with the corpus and pair cost with its
    square). The ESTIMATOR (signature pass) is linear; only the audit
    needs bounding. ``sample_mod=m`` audits a deterministic 1/m doc
    sample — frequency /m, audit cost /m² — which is how an accuracy
    audit runs at 100 TB (the registered ``dedup_minhash_oph_sampled``
    pins the sampled path against its own exactly-sampled oracle)."""
    # ONE shingle kernel for the whole audit: the signature pass below
    # and the exact-pair ground truth inside dedup_ngram_jaccard build
    # the same (doc_id, shingle) plan, so exchange reuse runs the doc
    # scan once.
    sh = _shingle_df(spark, sf_dir, sample_mod=sample_mod)
    hv = h32(F.concat(F.lit("oph:"), F.col("shingle")))
    raw = (
        sh.select(
            "doc_id",
            (hv % _OPH_K).cast("int").alias("bin"),
            hv.alias("hv"),
        )
        .select("doc_id", "bin", F.expr(f"hv div {_OPH_K}").alias("val"))
        .groupBy("doc_id", "bin")
        .agg(F.min("val").alias("val"))
    )
    bins = (
        raw.select("doc_id").distinct()
        .select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(_OPH_K - 1))).alias("j"))
    )
    dense = (
        bins.join(raw.select("doc_id", F.col("bin").alias("src"), "val"), "doc_id")
        .select(
            "doc_id",
            "j",
            ((F.col("src") - F.col("j") + _OPH_K) % _OPH_K).alias("t"),
            "val",
        )
        .groupBy("doc_id", "j")
        .agg(F.min(F.col("t") * _OPH_PACK + F.col("val")).alias("packed"))
        .select(
            "doc_id",
            "j",
            (F.col("packed") % _OPH_PACK
             + F.expr(f"(packed div {_OPH_PACK})") * _OPH_C).alias("sig"),
        )
    )
    pairs = dedup_ngram_jaccard(spark, sf_dir, sample_mod=sample_mod)
    sa = dense.select(F.col("doc_id").alias("doc_a"), "j", F.col("sig").alias("sig_a"))
    sb = dense.select(F.col("doc_id").alias("doc_b"), "j", F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "j"])
        .groupBy("doc_a", "doc_b", "jaccard")
        .agg(F.sum((F.col("sig_a") == F.col("sig_b")).cast("int")).alias("matches"))
        .select(
            "doc_a",
            "doc_b",
            F.col("matches").cast("int").alias("matches"),
            F.expr(f"matches * 1000 div {_OPH_K}").alias("est_permille"),
            F.expr("CAST(round(jaccard * 1000) AS BIGINT)").alias("exact_permille"),
            F.expr(
                f"abs(matches * 1000 div {_OPH_K} - CAST(round(jaccard * 1000) AS BIGINT))"
            ).alias("abs_err"),
        )
    )


DEDUP_MINHASH_OPH_ORACLE = f"""
WITH sh AS MATERIALIZED (
    SELECT doc_id,
           unnest(list_distinct([
               t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               FOR i IN generate_series(1, greatest(len(t) - 2, 0))
           ])) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
hv AS MATERIALIZED (
    SELECT doc_id,
           ('0x' || substring(md5('oph:' || shingle), 1, 8))::BIGINT AS h
    FROM sh
),
raw AS MATERIALIZED (
    SELECT doc_id, CAST(h % {_OPH_K} AS INTEGER) AS bin,
           MIN(h // {_OPH_K}) AS val
    FROM hv GROUP BY doc_id, bin
),
bins AS MATERIALIZED (
    SELECT DISTINCT doc_id, unnest(range({_OPH_K})) AS j FROM raw
),
dense AS MATERIALIZED (
    SELECT doc_id, j,
           MIN(((src - j + {_OPH_K}) % {_OPH_K}) * {_OPH_PACK} + val) AS packed
    FROM (
        SELECT b.doc_id, b.j, r.bin AS src, r.val
        FROM bins b JOIN raw r USING (doc_id)
    )
    GROUP BY doc_id, j
),
sig AS MATERIALIZED (
    SELECT doc_id, j,
           packed % {_OPH_PACK} + (packed // {_OPH_PACK}) * {_OPH_C} AS sig
    FROM dense
),
sizes AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS MATERIALIZED (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT DISTINCT doc_id, shingle FROM sh) a
    JOIN (SELECT DISTINCT doc_id, shingle FROM sh) b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS MATERIALIZED (
    SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(c * 1.0 / (sa.n + sb.n - c), 6) >= {{thr}}
)
SELECT p.doc_a, p.doc_b,
       CAST(SUM(CASE WHEN x.sig = y.sig THEN 1 ELSE 0 END) AS INTEGER) AS matches,
       CAST(SUM(CASE WHEN x.sig = y.sig THEN 1 ELSE 0 END) * 1000 // {_OPH_K}
            AS BIGINT) AS est_permille,
       CAST(round(p.jaccard * 1000) AS BIGINT) AS exact_permille,
       abs(CAST(SUM(CASE WHEN x.sig = y.sig THEN 1 ELSE 0 END) * 1000 // {_OPH_K}
                AS BIGINT)
           - CAST(round(p.jaccard * 1000) AS BIGINT)) AS abs_err
FROM pairs p
JOIN sig x ON p.doc_a = x.doc_id
JOIN sig y ON p.doc_b = y.doc_id AND x.j = y.j
GROUP BY p.doc_a, p.doc_b, p.jaccard
"""


SPECS.append(
    QuerySpec(
        "dedup_minhash_oph",
        dedup_minhash_oph,
        DEDUP_MINHASH_OPH_ORACLE.replace("{thr}", str(JACCARD_THRESHOLD)),
    )
)

_OPH_SAMPLE_MOD = 2
_OPH_SAMPLE_PRED = (
    "('0x' || substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))"
    f"::BIGINT % {_OPH_SAMPLE_MOD} = 0"
)


def dedup_minhash_oph_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_minhash_oph` with the audit bounded to a deterministic
    1/2 doc sample — the corpus-scale form: the exact-join audit's
    quadratic term shrinks by the sample rate squared while the
    estimator-vs-truth error distribution it measures is unchanged in
    expectation (hash sampling is unbiased over docs). See the parent
    docstring's SCALE CLIFF note for the 100x measurement that
    motivates this."""
    return dedup_minhash_oph(spark, sf_dir, sample_mod=_OPH_SAMPLE_MOD)


SPECS.append(
    QuerySpec(
        "dedup_minhash_oph_sampled",
        dedup_minhash_oph_sampled,
        DEDUP_MINHASH_OPH_ORACLE.replace("{thr}", str(JACCARD_THRESHOLD)).replace(
            "FROM documents)",
            f"FROM documents WHERE {_OPH_SAMPLE_PRED})",
        ),
    )
)


# ---------------------------------------------------------------------------
# dedup_cdc_chunks — content-defined chunking (shift-robust dedup units)
# ---------------------------------------------------------------------------

_CDC_D = 8  # boundary divisor: expected chunk length ≈ D tokens


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS boundary rule): a
    chunk break falls BETWEEN tokens wherever the bigram hash ≡ 0
    (mod D), so chunk boundaries move WITH the content — insert a
    token at the front of a document and every downstream chunk still
    hashes the same, which is what fixed-offset windows (`
    wf_chunk_documents`) cannot give and why storage dedup uses CDC.
    Cross-corpus chunk-hash grouping then surfaces content shared at
    ANY offset between documents.

    Shape: token explode, a per-document running count of boundary
    flags (doc-partitioned window — streams, never buffers), chunk
    reassembly via sorted struct collect, one corpus-wide hash agg on
    the chunk hash. Returns chunks appearing in ≥2 distinct docs with
    occurrence stats — the shared-content ledger."""
    docs = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = docs.withColumn(
        "brk",
        F.when(
            (F.col("pos") > 0)
            & (h32(F.concat(F.lit("cdc:"), F.lag("tok").over(w), F.lit(" "), F.col("tok")))
               % _CDC_D == 0),
            1,
        ).otherwise(0),
    ).withColumn(
        "chunk_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    chunks = (
        flagged.groupBy("doc_id", "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
        )
        .select("doc_id", h32(F.col("chunk_text")).alias("chunk_hash"), "n_tokens")
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("n_tokens").alias("n_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


DEDUP_CDC_CHUNKS_ORACLE = f"""
WITH toks AS MATERIALIZED (
    SELECT doc_id, (i - 1) AS pos, t[i] AS tok
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         LATERAL unnest(generate_series(1, len(t))) AS u(i)
),
flagged AS MATERIALIZED (
    SELECT doc_id, pos, tok,
           CASE WHEN pos > 0 AND
                ('0x' || substring(md5('cdc:' ||
                    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                    || ' ' || tok), 1, 8))::BIGINT % {_CDC_D} = 0
           THEN 1 ELSE 0 END AS brk
    FROM toks
),
chunked AS MATERIALIZED (
    SELECT doc_id, pos, tok,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
    FROM flagged
),
chunks AS MATERIALIZED (
    SELECT doc_id,
           ('0x' || substring(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 8))::BIGINT
               AS chunk_hash,
           CAST(COUNT(*) AS INTEGER) AS n_tokens
    FROM chunked GROUP BY doc_id, chunk_id
)
SELECT chunk_hash,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       MIN(n_tokens) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM chunks
GROUP BY chunk_hash
HAVING COUNT(DISTINCT doc_id) >= 2
"""

SPECS.append(
    QuerySpec(
        "dedup_cdc_chunks",
        dedup_cdc_chunks,
        DEDUP_CDC_CHUNKS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dedup_method_matrix — in-engine agreement audit across dedup variants
# ---------------------------------------------------------------------------
#
# The `sim_ann_recall_matrix` pattern applied to near-dup detection: run
# the exact Jaccard join, the banded-MinHash pipeline, and the SimHash
# banding over the SAME corpus and report each method's pair volume plus
# precision/recall against the exact method — the table a corpus owner
# reads before picking the dedup dial at 100 TB (and a standing
# cross-implementation consistency check: if MinHash recall ever drops
# below 1.0 on fixtures, banding broke).


def dedup_method_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per method: pair count, overlap with exact, precision
    and recall vs the exact Jaccard join. SimHash hunts a DIFFERENT
    metric (Hamming on 32-bit sketches, not Jaccard ≥ 0.5), so its
    row quantifies cross-metric agreement rather than a recall
    guarantee. All three pair sets are computed by the registered
    operators themselves (single source of truth); metrics are
    count aggregates over broadcast-joined pair sets — the pair
    tables are LSH-sized, orders smaller than the corpus."""
    ex = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    methods = [
        ("exact_jaccard", ex),
        ("minhash_lsh", dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")),
        ("simhash_h3", dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")),
    ]
    # One grouped count over the tagged pair sets: ex holds each pair
    # once, so a left join keeps every method pair and counts both the
    # pairs and their overlap. The pair sets' estimates hide their
    # near-dup size, hence the hint (runtime shuffles 15 -> 14).
    tagged = methods[0][1].withColumn("method", F.lit(methods[0][0]))
    for name, pairs in methods[1:]:
        tagged = tagged.unionByName(pairs.withColumn("method", F.lit(name)))
    counted = (
        tagged.join(F.broadcast(ex.withColumn("hit", F.lit(1))), ["doc_a", "doc_b"], "left")
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.count("hit").alias("n_overlap"))
    )
    ex_n = ex.agg(F.count(F.lit(1)).alias("n_exact"))
    return counted.crossJoin(ex_n).select(
        "method",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_overlap").cast("long").alias("n_overlap_exact"),
        F.round(F.col("n_overlap") / F.col("n_pairs"), 6).alias("precision_vs_exact"),
        F.round(F.col("n_overlap") / F.col("n_exact"), 6).alias("recall_vs_exact"),
    )


def _method_matrix_oracle() -> str:
    # nested CTEs: each registered oracle drops in verbatim as a
    # derived table, so the matrix oracle can never drift from the
    # per-method oracles
    return f"""
WITH ex AS (SELECT doc_a, doc_b FROM ({DEDUP_NGRAM_JACCARD_ORACLE})),
mh AS (SELECT doc_a, doc_b FROM ({_minhash_oracle()})),
sh AS (SELECT doc_a, doc_b FROM ({_simhash_pairs_oracle()})),
exn AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
m AS (
    SELECT 'exact_jaccard' AS method,
           (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_overlap
    UNION ALL
    SELECT 'minhash_lsh',
           (SELECT CAST(count(*) AS BIGINT) FROM mh),
           (SELECT CAST(count(*) AS BIGINT) FROM mh JOIN ex USING (doc_a, doc_b))
    UNION ALL
    SELECT 'simhash_h3',
           (SELECT CAST(count(*) AS BIGINT) FROM sh),
           (SELECT CAST(count(*) AS BIGINT) FROM sh JOIN ex USING (doc_a, doc_b))
)
SELECT method, n_pairs, CAST(n_overlap AS BIGINT) AS n_overlap_exact,
       round(n_overlap * 1.0 / n_pairs, 6) AS precision_vs_exact,
       round(n_overlap * 1.0 / (SELECT n_exact FROM exn), 6) AS recall_vs_exact
FROM m
"""


SPECS.append(
    QuerySpec(
        "dedup_method_matrix",
        dedup_method_matrix,
        _method_matrix_oracle(),
    )
)
