"""Deterministic sampling — the selection primitives a training-data
pipeline needs (north-star LLM-pipeline operators, BASELINE.json).

``df.sample()`` is seed-dependent AND partition-layout-dependent, so
two runs over differently-split inputs disagree — useless for
reproducible corpus construction at 100 TB. These operators sample by
CONTENT HASH instead: membership is a pure function of the row's key
via the shared cross-engine kernel ``h32`` (md5-prefix), so the
sample is stable across engines, partitionings, cluster sizes, and
reruns, and the DuckDB oracle reproduces it exactly.

All pure JVM expressions — whole-stage codegen end to end, no shuffle
for bernoulli/split (narrow maps over the scan); the stratified
variant shuffles only for its per-stratum audit aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..spec import QuerySpec
from ._helpers import h32

# DuckDB twin of _helpers.h32 (keep in lockstep with it).
H32_SQL = "('0x' || substring(md5({x}), 1, 8))::BIGINT"


def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% Bernoulli sample of lineitem, membership decided by the
    content hash of the row's natural key — no RNG, no seed, no
    dependence on partition layout. At 100 TB this is a narrow map
    fused into the scan (filter pushes to the parquet reader's
    row-group batch); re-running on a re-partitioned copy of the data
    selects the SAME rows."""
    li = load(spark, sf_dir, "lineitem")
    key = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    return li.filter(h32(key) % 100 < 5).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"
    )


SAMPLE_HASH_BERNOULLI_ORACLE = f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
FROM lineitem
WHERE {H32_SQL.format(x="l_orderkey || '-' || l_linenumber")} % 100 < 5
"""


# per-stratum sampling rates in per-mille (status F is the "rare
# class" kept at a higher rate — the usual class-rebalancing shape)
STRATA_PER_MILLE = {"F": 500, "O": 50, "P": 20}


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample of orders: each o_orderstatus stratum keeps
    its own hash-threshold rate (rare classes oversampled). Returns
    the per-stratum audit counts — kept vs total — so the observed
    rate is visible. Deterministic twin of ``df.sampleBy``; unlike
    sampleBy the selection survives engine and layout changes."""
    orders = load(spark, sf_dir, "orders")
    rate = F.create_map(
        *[F.lit(v) for kv in STRATA_PER_MILLE.items() for v in kv]
    )[F.col("o_orderstatus")]
    return (
        orders.withColumn(
            "kept", (h32(F.col("o_orderkey").cast("string")) % 1000 < rate).cast("int")
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
        )
        .orderBy("o_orderstatus")
    )


_RATE_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in STRATA_PER_MILLE.items()
)

SAMPLE_STRATIFIED_ORACLE = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN {H32_SQL.format(x="CAST(o_orderkey AS VARCHAR)")} % 1000
                          < (CASE o_orderstatus {_RATE_CASE} END)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def split_assignment(doc_id_col) -> "F.Column":
    """THE corpus split rule: hash-range 80/10/10 over
    h32(doc_id) % 100. Single source of truth — consumed by
    ``split_train_test`` (the registered split op) and
    ``dq_split_leakage_audit`` (which must audit the REAL rule, not a
    re-derivation that could silently diverge)."""
    bucket = h32(doc_id_col.cast("string")) % 100
    return (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )


def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test split of the documents corpus:
    hash-range assignment (80/10/10) keyed on doc_id. The audit
    output proves assignment identity, not just sizes: per-split row
    count plus a DECIMAL checksum over member hashes (associative →
    deterministic under Spark's unordered partial aggregation). A
    100 TB corpus splits in one narrow pass; every engine and every
    rerun lands each document in the same bucket."""
    docs = load(spark, sf_dir, "documents")
    h = h32(F.col("doc_id").cast("string"))
    return (
        docs.select(
            split_assignment(F.col("doc_id")).alias("split"),
            h.alias("h"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("h").cast("decimal(18,0)")).cast("double").alias("hash_checksum"),
        )
        .orderBy("split")
    )


SPLIT_TRAIN_TEST_ORACLE = f"""
WITH assigned AS (
    SELECT CASE WHEN h % 100 < 80 THEN 'train'
                WHEN h % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           h
    FROM (SELECT {H32_SQL.format(x="CAST(doc_id AS VARCHAR)")} AS h FROM documents)
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(h AS DECIMAL(18,0))) AS DOUBLE) AS hash_checksum
FROM assigned
GROUP BY split
ORDER BY split
"""


SPECS = [
    QuerySpec(
        "sample_hash_bernoulli",
        sample_hash_bernoulli,
        SAMPLE_HASH_BERNOULLI_ORACLE,
    ),
    QuerySpec(
        "sample_stratified",
        sample_stratified,
        SAMPLE_STRATIFIED_ORACLE,
    ),
    QuerySpec(
        "split_train_test",
        split_train_test,
        SPLIT_TRAIN_TEST_ORACLE,
    ),
]


N_SHARDS = 16


def wf_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the last step
    of a training-data pipeline: break source ordering (documents
    arrive clustered by crawl/source, which biases SGD) and emit N
    stable shards. shard = h32(doc_id) mod N and the intra-shard
    order key is the hash itself, so the permutation is a pure
    function of content: re-runs, engine swaps, and repartitioned
    inputs all produce byte-identical shards — ``orderBy(rand())``
    gives none of that. One hash-partitioned exchange, each shard
    sorted within its partition; nothing global is sorted (a total
    order across shards is unnecessary for training and would cost a
    range exchange).

    The audit output proves assignment + order, not just counts:
    per-shard size, the first document (min by order key — a stable
    head the resume logic can check), a hash checksum (associative
    DECIMAL sum → deterministic), and the payload byte total."""
    docs = load(spark, sf_dir, "documents")
    h = h32(F.col("doc_id").cast("string"))
    assigned = docs.select(
        F.pmod(h, F.lit(N_SHARDS)).cast("int").alias("shard"),
        h.alias("order_key"),
        "doc_id",
        "n_chars",
    ).repartition(N_SHARDS, "shard").sortWithinPartitions("shard", "order_key", "doc_id")
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # scalar composite (hash ≪ 10^7 + id) instead of a struct
            # min: arg_min over structs isn't portable to the oracle
            F.min_by(
                "doc_id", F.col("order_key") * F.lit(10_000_000) + F.col("doc_id")
            ).cast("long").alias("first_doc"),
            F.sum(F.col("order_key").cast("decimal(18,0)"))
            .cast("double")
            .alias("hash_checksum"),
            F.sum("n_chars").alias("n_chars_total"),
        )
        .orderBy("shard")
    )


WF_SHUFFLE_SHARD_ORACLE = f"""
WITH assigned AS (
    SELECT CAST(h % {N_SHARDS} AS INTEGER) AS shard, h AS order_key, doc_id, n_chars
    FROM (SELECT {H32_SQL.format(x="CAST(doc_id AS VARCHAR)")} AS h, doc_id, n_chars
          FROM documents)
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(arg_min(doc_id, order_key * 10000000 + doc_id) AS BIGINT) AS first_doc,
       CAST(SUM(CAST(order_key AS DECIMAL(18,0))) AS DOUBLE) AS hash_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
FROM assigned
GROUP BY shard
ORDER BY shard
"""

SPECS.append(
    QuerySpec(
        "wf_shuffle_shard",
        wf_shuffle_shard,
        WF_SHUFFLE_SHARD_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# sample_reservoir — weighted sampling without replacement (A-ES keys)
# ---------------------------------------------------------------------------

RESERVOIR_K = 100


def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample WITHOUT replacement of k=100 orders, selection
    probability proportional to order value — the Efraimidis-Spirakis
    A-ES scheme: each row gets key ln(u)/w (equivalent to ranking by
    u^(1/w)) with u derived from the CONTENT HASH (not an RNG), and
    the k largest keys win. ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject: every task keeps a k-row heap and only
    those heaps ship to the driver — the one global "sort" shape
    that is safe at 100 TB (no full sort, no single-task collapse).
    Fully reproducible: same rows selected on any partitioning, any
    cluster, and in the DuckDB oracle."""
    orders = load(spark, sf_dir, "orders")
    u = (h32(F.col("o_orderkey").cast("string")) + 1) / F.lit(4294967296.0)
    key = F.log(u) / F.col("o_totalprice")
    return (
        # + 0.0 canonicalizes IEEE −0.0 to +0.0 (Spark's round and
        # DuckDB's disagree on the SIGN of zero, not the value)
        orders.withColumn("es_key", F.round(key, 9) + F.lit(0.0))
        .orderBy(F.desc("es_key"), F.asc("o_orderkey"))
        .limit(RESERVOIR_K)
        .select("o_orderkey", "o_totalprice", "es_key")
    )


SAMPLE_RESERVOIR_ORACLE = f"""
SELECT o_orderkey, o_totalprice,
       round(ln(({H32_SQL.format(x="CAST(o_orderkey AS VARCHAR)")} + 1) / 4294967296.0)
             / o_totalprice, 9) + 0.0 AS es_key
FROM orders
ORDER BY es_key DESC, o_orderkey ASC
LIMIT {RESERVOIR_K}
"""

SPECS.append(
    QuerySpec(
        "sample_reservoir",
        sample_reservoir,
        SAMPLE_RESERVOIR_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# sample_balanced_class — balanced downsample to the minority class
# ---------------------------------------------------------------------------


def sample_balanced_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling of the labeled embedding corpus:
    every label keeps exactly minority-class-many rows, selected by
    ascending CONTENT HASH of the id (h32 — the package's
    deterministic sampling discipline, `sample_hash_bernoulli`), so
    the balanced subset is reproducible across engines, runs, and
    partitionings — no RNG, no sampleBy.

    Plan: one shuffle for the per-label rank window, one tiny
    per-label count aggregate whose MIN broadcasts back as the cut;
    at 100 TB per-label top-k via window is the standard shape (swap
    row_number for the aggregation-based top-k in `topk_group_agg` if
    labels are few and k is small)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    w = Window.partitionBy("label").orderBy(
        h32(F.col("vec_id").cast("string")), "vec_id"
    )
    ranked = emb.select("vec_id", "label", F.row_number().over(w).alias("rk"))
    cut = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("cut"))
    )
    return (
        ranked.crossJoin(cut)
        .filter(F.col("rk") <= F.col("cut"))
        .select("vec_id", "label", F.col("rk").cast("int").alias("rk"))
        .orderBy("label", "rk")
    )


SAMPLE_BALANCED_CLASS_ORACLE = """
WITH ranked AS (
    SELECT vec_id, label,
           row_number() OVER (
               PARTITION BY label
               ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                        vec_id) AS rk
    FROM embeddings
),
cut AS (
    SELECT MIN(n) AS cut FROM (
        SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
    )
)
SELECT vec_id, label, CAST(rk AS INTEGER) AS rk
FROM ranked, cut
WHERE rk <= cut
ORDER BY label, rk
"""

SPECS.append(
    QuerySpec(
        "sample_balanced_class",
        sample_balanced_class,
        SAMPLE_BALANCED_CLASS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# split_kfold — deterministic k-fold cross-validation assignment
# ---------------------------------------------------------------------------

_KFOLD = 5


def split_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment by content hash — the
    multi-way generalization of `split_train_test`: every document
    lands in exactly one of 5 folds via the shared deterministic
    hash, so any engine (or a rerun after the corpus is re-sharded)
    derives the IDENTICAL folds. Output is the per-fold audit the CV
    harness needs — fold sizes, token counts, and a membership
    checksum that proves assignment equality, not just equal sizes.
    Narrow map + one aggregation; the assignment predicate pushes
    onto a 100 TB scan unchanged."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    fold = h32(F.concat_ws(":", F.col("doc_id"), F.lit("fold"))) % _KFOLD
    n_tok = F.size(F.split("text", " "))
    return (
        docs.select(
            fold.cast("int").alias("fold"),
            n_tok.alias("n_tok"),
            (h32(F.col("doc_id").cast("string")) % 97).alias("chk"),
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("chk").cast("long").alias("membership_checksum"),
        )
        .orderBy("fold")
    )


SPLIT_KFOLD_ORACLE = f"""
SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || 'fold'), 1, 8))::BIGINT
            % {_KFOLD} AS INTEGER) AS fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(SUM(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 97)
            AS BIGINT) AS membership_checksum
FROM documents
GROUP BY 1
ORDER BY 1
"""

SPECS.append(
    QuerySpec(
        "split_kfold",
        split_kfold,
        SPLIT_KFOLD_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# sample_stratified_neyman — variance-based Neyman allocation
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 300  # total sample budget across strata


def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling (optimal allocation,
    Neyman 1934): the fixed budget is split across customer segments
    proportionally to N_h·S_h — high-variance strata get more of the
    sample budget than proportional allocation would give. Membership
    is then the deterministic hash-rank top-``alloc`` per stratum, so
    the SAME customers are selected on any engine/partitioning; the
    kept-id checksum in the audit proves membership identity, not
    just counts.

    Exactness: within-stratum variance comes from exact integer
    moments (acctbal in cents: Σy and Σy² as DECIMAL(38,0)), only
    then converted to double — the downstream S_h, N_h·S_h, and
    floor(budget·w/Σw) are identical IEEE operations on identical
    inputs in both engines. The stratum-weight total is a one-row agg
    broadcast back (no global window). Scale: one pass for moments
    (map-side combine), one per-stratum rank for membership — the
    rank partitions by stratum, and the kept prefix is
    budget-bounded.
    """
    cust = load(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("decimal(38,0)")
    stats = (
        cust.select(F.col("c_mktsegment").alias("stratum"), cents.alias("y"))
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("y").alias("s1"),
            F.sum(F.col("y") * F.col("y")).alias("s2"),
        )
        .select(
            "stratum",
            "n_total",
            (
                (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double")
                    * F.col("s1").cast("double")
                    / F.col("n_total")
                )
                / (F.col("n_total") - 1)
                / F.lit(10000.0)
            ).alias("var"),
        )
        .select(
            "stratum",
            "n_total",
            F.sqrt(F.greatest(F.col("var"), F.lit(0.0))).alias("s_h"),
        )
        .withColumn("w", F.col("n_total") * F.col("s_h"))
    )
    tot = stats.agg(F.sum("w").alias("w_sum"))
    alloc = stats.crossJoin(tot).select(
        "stratum",
        "n_total",
        F.round("s_h", 6).alias("stddev"),
        F.floor(F.lit(NEYMAN_BUDGET) * F.col("w") / F.col("w_sum"))
        .cast("bigint")
        .alias("alloc"),
    )
    ranked = cust.select(
        F.col("c_mktsegment").alias("stratum"),
        "c_custkey",
        F.row_number()
        .over(
            Window.partitionBy("c_mktsegment").orderBy(
                h32(F.col("c_custkey").cast("string")), F.col("c_custkey")
            )
        )
        .alias("rk"),
    )
    kept = (
        ranked.join(F.broadcast(alloc), "stratum")
        .filter(F.col("rk") <= F.col("alloc"))
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("c_custkey").alias("kept_checksum"),
        )
    )
    return (
        alloc.join(kept, "stratum", "left")
        .select(
            "stratum",
            "n_total",
            "stddev",
            "alloc",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("kept_checksum", F.lit(0)).cast("bigint").alias(
                "kept_checksum"
            ),
        )
        .orderBy("stratum")
    )


SAMPLE_STRATIFIED_NEYMAN_ORACLE = f"""
WITH stats AS (
    SELECT c_mktsegment AS stratum,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           SUM(CAST(round(c_acctbal * 100) AS DECIMAL(38,0))) AS s1,
           SUM(CAST(round(c_acctbal * 100) AS DECIMAL(38,0))
               * CAST(round(c_acctbal * 100) AS DECIMAL(38,0))) AS s2
    FROM customer GROUP BY c_mktsegment
),
weighted AS (
    SELECT stratum, n_total,
           sqrt(greatest(
               (CAST(s2 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_total)
               / (n_total - 1) / 10000.0, 0.0)) AS s_h
    FROM stats
),
alloc AS (
    SELECT stratum, n_total, round(s_h, 6) AS stddev,
           CAST(floor({NEYMAN_BUDGET} * (n_total * s_h)
                      / (SELECT SUM(n_total * s_h) FROM weighted))
                AS BIGINT) AS alloc
    FROM weighted
),
ranked AS (
    SELECT c_mktsegment AS stratum, c_custkey,
           row_number() OVER (
               PARTITION BY c_mktsegment
               ORDER BY {H32_SQL.format(x="CAST(c_custkey AS VARCHAR)")},
                        c_custkey
           ) AS rk
    FROM customer
),
kept AS (
    SELECT r.stratum,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(r.c_custkey) AS BIGINT) AS kept_checksum
    FROM ranked r JOIN alloc a ON r.stratum = a.stratum
    WHERE r.rk <= a.alloc
    GROUP BY r.stratum
)
SELECT a.stratum, a.n_total, a.stddev, a.alloc,
       COALESCE(k.n_kept, 0) AS n_kept,
       COALESCE(k.kept_checksum, 0) AS kept_checksum
FROM alloc a LEFT JOIN kept k ON a.stratum = k.stratum
ORDER BY a.stratum
"""

SPECS.append(
    QuerySpec(
        "sample_stratified_neyman",
        sample_stratified_neyman,
        SAMPLE_STRATIFIED_NEYMAN_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# split_temporal_embargo — leakage-safe time-based split
# ---------------------------------------------------------------------------

EMBARGO_DAYS = 3  # purge gap between train end and test start
TEST_DAYS = 7  # most-recent window reserved for evaluation


def split_temporal_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/embargo/test split of the events stream: the
    last ``TEST_DAYS`` days are evaluation, the ``EMBARGO_DAYS``
    before them are PURGED (neither side — the leakage guard for
    label horizons that look forward), everything earlier is
    training. This is the split a feature store must use when rows
    are time-ordered: the hash splits (``split_train_test``,
    ``split_kfold``) would leak future information into training.

    Output is the per-split audit (rows, user reach, day bounds,
    id checksum) so membership — not just counts — is pinned. One
    pass: the corpus max day is a one-row agg broadcast back; the
    split predicate is a narrow map fused into the scan."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.to_date("ts").alias("day")
    )
    mx = ev.agg(F.max("day").alias("max_day"))
    tagged = ev.crossJoin(mx).withColumn(
        "split",
        F.when(
            F.datediff("max_day", F.col("day")) < TEST_DAYS, F.lit("test")
        )
        .when(
            F.datediff("max_day", F.col("day")) < TEST_DAYS + EMBARGO_DAYS,
            F.lit("embargo"),
        )
        .otherwise(F.lit("train")),
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
            F.sum("event_id").alias("id_checksum"),
        )
        .orderBy("split")
    )


SPLIT_TEMPORAL_EMBARGO_ORACLE = f"""
WITH ev AS (
    SELECT event_id, user_id, CAST(ts AS DATE) AS day FROM events
),
mx AS (SELECT max(day) AS max_day FROM ev),
tagged AS (
    SELECT event_id, user_id, day,
           CASE
               WHEN date_diff('day', day, max_day) < {TEST_DAYS} THEN 'test'
               WHEN date_diff('day', day, max_day)
                    < {TEST_DAYS + EMBARGO_DAYS} THEN 'embargo'
               ELSE 'train'
           END AS split
    FROM ev, mx
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       strftime(MIN(day), '%Y-%m-%d') AS first_day,
       strftime(MAX(day), '%Y-%m-%d') AS last_day,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM tagged
GROUP BY split
ORDER BY split
"""

SPECS.append(
    QuerySpec(
        "split_temporal_embargo",
        split_temporal_embargo,
        SPLIT_TEMPORAL_EMBARGO_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# wf_target_encoding — leakage-safe out-of-fold target encoding
# ---------------------------------------------------------------------------


def wf_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding of the customer segment: the
    canonical leakage-safe categorical encoder — each fold's rows are
    encoded with the target mean computed from the OTHER folds only
    (``(Σ_total − Σ_fold) / (n_total − n_fold)``), so a row never
    sees its own target. Folds come from the same deterministic hash
    rule as ``split_kfold``, making the encoded features
    bit-reproducible across engines and reruns.

    Exactness: per-(segment, fold) sums in DECIMAL cents; the OOF
    mean is ONE double division of exact integers. Scale: one
    (segment, fold) aggregate (≤ |segments|·K rows) and a tiny
    same-key grand-total join — the encoder table then broadcasts
    back onto any training scan for free."""
    cust = load(spark, sf_dir, "customer")
    fold = h32(F.concat_ws(":", F.col("c_custkey"), F.lit("fold"))) % 5
    cells = (
        cust.select(
            F.col("c_mktsegment").alias("segment"),
            fold.cast("int").alias("fold"),
            F.round(F.col("c_acctbal") * 100)
            .cast("decimal(38,0)")
            .alias("cents"),
        )
        .groupBy("segment", "fold")
        .agg(F.count(F.lit(1)).alias("n_f"), F.sum("cents").alias("s_f"))
    )
    totals = cells.groupBy("segment").agg(
        F.sum("n_f").alias("n_t"), F.sum("s_f").alias("s_t")
    )
    return (
        cells.join(totals, "segment")
        .select(
            "segment",
            "fold",
            F.col("n_f").cast("bigint").alias("n_fold"),
            F.round(
                (F.col("s_t") - F.col("s_f")).cast("double")
                / (F.col("n_t") - F.col("n_f"))
                / 100.0,
                6,
            ).alias("oof_mean_acctbal"),
        )
        .orderBy("segment", "fold")
    )


WF_TARGET_ENCODING_ORACLE = f"""
WITH cells AS (
    SELECT c_mktsegment AS segment,
           CAST({H32_SQL.format(x="CAST(c_custkey AS VARCHAR) || ':fold'")} % 5
                AS INTEGER) AS fold,
           COUNT(*) AS n_f,
           SUM(CAST(round(c_acctbal * 100) AS DECIMAL(38,0))) AS s_f
    FROM customer GROUP BY ALL
),
totals AS (
    SELECT segment, SUM(n_f) AS n_t, SUM(s_f) AS s_t FROM cells GROUP BY segment
)
SELECT c.segment, c.fold,
       CAST(c.n_f AS BIGINT) AS n_fold,
       round(CAST(t.s_t - c.s_f AS DOUBLE) / (t.n_t - c.n_f) / 100.0, 6)
           AS oof_mean_acctbal
FROM cells c JOIN totals t ON c.segment = t.segment
ORDER BY c.segment, c.fold
"""

SPECS.append(
    QuerySpec(
        "wf_target_encoding",
        wf_target_encoding,
        WF_TARGET_ENCODING_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# split_group_holdout — cluster-randomized split (whole groups together)
# ---------------------------------------------------------------------------


def split_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-level holdout: the split is keyed on the SOURCE hash, so
    every document of a source lands in the same fold — the
    cluster-randomized discipline that prevents near-duplicate
    leakage across train/test when duplication correlates with origin
    (per-doc splits like ``split_train_test`` scatter a crawl's
    near-identical pages across folds and inflate eval scores).
    Audit proves the property structurally: per split, the doc count
    AND the distinct-source count, plus per-source fold assignment
    uniqueness is an algebraic consequence of hashing the group key.
    Same one narrow pass at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    h = h32(F.concat_ws(":", F.lit("grp"), F.col("source")))
    split = (
        F.when(h % 100 < 80, "train").when(h % 100 < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "source")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("split")
    )


SPLIT_GROUP_HOLDOUT_ORACLE = """
WITH assigned AS (
    SELECT CASE WHEN h % 100 < 80 THEN 'train'
                WHEN h % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           source
    FROM (
        SELECT source,
               ('0x' || substring(md5('grp' || ':' || source), 1, 8))::BIGINT AS h
        FROM documents
    )
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM assigned GROUP BY split ORDER BY split
"""

SPECS.append(
    QuerySpec(
        "split_group_holdout",
        split_group_holdout,
        SPLIT_GROUP_HOLDOUT_ORACLE,
    )
)
