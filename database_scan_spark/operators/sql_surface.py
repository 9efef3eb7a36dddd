"""General SQL surface — operators the reference never used but any
user switching a real workload onto this engine expects day one
(SURVEY §2 'absent' rows: the engine exposes Spark's full surface).
Each is oracled, so the claim is checked, not asserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, register_views
from ..session import scoped_confs
from ..spec import QuerySpec


def join_outer_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer: every part, with lineitem stats where sold (nulls
    where never sold) — the enrich-with-optional-facts shape."""
    part = load(spark, sf_dir, "part")
    sold = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_sold"))
    )
    return part.join(sold, part.p_partkey == sold.l_partkey, "left").select(
        "p_partkey", "p_name", "n_sold"
    )


JOIN_OUTER_LEFT_ORACLE = """
SELECT p_partkey, p_name, n_sold
FROM part LEFT JOIN (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_sold FROM lineitem GROUP BY l_partkey
) s ON p_partkey = s.l_partkey
"""


def join_outer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer over two derived key sets (high-balance customers vs
    recent-order customers): rows survive from both sides."""
    rich = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") >= 9000)
        .select(F.col("c_custkey").alias("rich_key"), "c_acctbal")
    )
    recent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-06-01"))
        .select(F.col("o_custkey").alias("recent_key"))
        .dropDuplicates(["recent_key"])
    )
    return rich.join(recent, rich.rich_key == recent.recent_key, "full").select(
        "rich_key", "c_acctbal", "recent_key"
    )


JOIN_OUTER_FULL_ORACLE = """
SELECT rich_key, c_acctbal, recent_key
FROM (SELECT c_custkey AS rich_key, c_acctbal FROM customer WHERE c_acctbal >= 9000) r
FULL OUTER JOIN (SELECT DISTINCT o_custkey AS recent_key FROM orders
                 WHERE o_orderdate >= TIMESTAMP '2001-06-01') q
ON rich_key = recent_key
"""


def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit left_semi + left_anti as first-class joins (the
    reference expressed these with Python id-sets — SURVEY §2.6)."""
    customer = load(spark, sf_dir, "customer")
    big_orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 300000)
    semi = customer.join(
        big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", F.lit("has_big_order").alias("bucket"))
    anti = customer.join(
        big_orders, customer.c_custkey == big_orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", F.lit("no_big_order").alias("bucket"))
    return semi.unionByName(anti)


JOIN_SEMI_ANTI_ORACLE = """
SELECT c_custkey, c_name, 'has_big_order' AS bucket FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice >= 300000)
UNION ALL
SELECT c_custkey, c_name, 'no_big_order' FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice >= 300000)
"""


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per segment × status as a wide table.
    Explicit value list so the schema is static (required for a
    deterministic plan; dynamic pivot needs a collect)."""
    joined = load(spark, sf_dir, "customer").join(
        load(spark, sf_dir, "orders"),
        F.col("c_custkey") == F.col("o_custkey"),
    )
    return (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "c_mktsegment",
            # pivot leaves NULL for absent (segment, status) cells where
            # COUNT(*) FILTER yields 0 — coalesce pins the SQL semantics
            F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("n_p"),
        )
    )


AGG_PIVOT_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
       CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""


def proj_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide numeric columns → (metric, value) rows."""
    return load(spark, sf_dir, "part").unpivot(
        ["p_partkey"],
        ["p_size", "p_retailprice"],
        "metric",
        "value",
    ).withColumn("value", F.col("value").cast("double"))


PROJ_UNPIVOT_ORACLE = """
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
"""


def proj_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: token position matters (the reference's rows[0]
    positional semantics generalized — SURVEY §1.4)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).withColumn("pos", F.col("pos").cast("int"))


PROJ_POSEXPLODE_ORACLE = """
SELECT doc_id, CAST(u.pos - 1 AS INTEGER) AS pos, u.token
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 20),
     LATERAL (SELECT unnest(toks) AS token, generate_subscripts(toks, 1) AS pos) u
"""


def filter_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=> / IS NOT DISTINCT FROM): compare two
    possibly-null derived columns without three-valued-logic traps."""
    ev = load(spark, sf_dir, "events")
    a = F.get_json_object("props", "$.k").cast("int")
    # floor before the int cast: Spark truncates double→int, DuckDB
    # rounds — explicit floor pins the same semantics in both
    b = F.when(F.col("value") >= 100, F.floor(F.col("value") % 100).cast("int"))
    return ev.select(
        "event_id",
        a.alias("a"),
        b.alias("b"),
        a.eqNullSafe(b).alias("same"),
    )


FILTER_NULL_SAFE_EQ_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS a,
       CASE WHEN value >= 100 THEN CAST(floor(value % 100) AS INTEGER) END AS b,
       CAST(json_extract_string(props, '$.k') AS INTEGER)
           IS NOT DISTINCT FROM
           (CASE WHEN value >= 100 THEN CAST(floor(value % 100) AS INTEGER) END) AS same
FROM events
"""


def fn_math_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface: sqrt/pow/ln/abs/ceil/floor/round — IEEE doubles
    are bit-identical across engines for these."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.round(F.sqrt(F.abs("c_acctbal")), 6).alias("sqrt_abs_bal"),
        F.round(F.pow(F.col("c_nationkey") + 1, 2), 6).alias("nation_sq"),
        F.round(F.log(F.col("c_custkey") + 1), 6).alias("ln_key"),
        F.ceil(F.col("c_acctbal")).cast("bigint").alias("bal_ceil"),
        F.floor(F.col("c_acctbal")).cast("bigint").alias("bal_floor"),
    )


FN_MATH_OPS_ORACLE = """
SELECT c_custkey,
       round(sqrt(abs(c_acctbal)), 6) AS sqrt_abs_bal,
       round(pow(c_nationkey + 1, 2), 6) AS nation_sq,
       round(ln(c_custkey + 1), 6) AS ln_key,
       CAST(ceil(c_acctbal) AS BIGINT) AS bal_ceil,
       CAST(floor(c_acctbal) AS BIGINT) AS bal_floor
FROM customer
"""


def fn_cond_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional surface: CASE/when chains, least/greatest, nullif."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "large")
        .when(F.col("o_totalprice") >= 100000, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.least(F.col("o_totalprice"), F.lit(250000.0)).alias("capped"),
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_or_null"),
    )


FN_COND_CASE_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_totalprice >= 300000 THEN 'large'
            WHEN o_totalprice >= 100000 THEN 'medium'
            ELSE 'small' END AS size_class,
       least(o_totalprice, 250000.0) AS capped,
       nullif(o_orderstatus, 'P') AS status_or_null
FROM orders
"""


def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery + EXISTS through the SQL front end:
    customers whose balance beats their nation's average (the SQL
    text itself runs on both engines verbatim)."""
    register_views(spark, sf_dir)
    return spark.sql(_SUBQUERY_SQL)


_SUBQUERY_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def sql_frontend_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plain-SQL front end over registered views — dialect kept in
    the ANSI intersection so the IDENTICAL text is the oracle."""
    register_views(spark, sf_dir)
    return spark.sql(_FRONTEND_SQL)


_FRONTEND_SQL = """
SELECT n_name,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM nation
JOIN customer ON n_nationkey = c_nationkey
JOIN orders ON c_custkey = o_custkey
WHERE o_orderstatus <> 'P'
GROUP BY n_name
HAVING COUNT(DISTINCT c_custkey) >= 5
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube's fixed lattices):
    totals by status, by priority, and the grand total in ONE pass —
    Spark expands the sets map-side, so the fact table is still read
    once and shuffled once. grouping_id disambiguates a real NULL
    from a set-collapsed NULL."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select("o_orderstatus", "o_orderpriority", "n_orders", "total_price", "gid")
    )


AGG_GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolating percentiles (the approx variants live in
    composite.py): median and quartiles of l_quantity per return
    flag. Spark's `percentile` and DuckDB's percentile_cont share the
    linear-interpolation definition, so the doubles match exactly.
    Scale note: exact percentiles hold the group's values — for
    100 TB fact tables use the approx sketch; this is the small-group
    / exact-report path."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("q1"),
            F.expr("percentile(l_quantity, 0.5)").alias("median"),
            F.expr("percentile(l_quantity, 0.75)").alias("q3"),
        )
        .orderBy("l_returnflag")
    )


AGG_PERCENTILE_EXACT_ORACLE = """
SELECT l_returnflag,
       percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q1,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS median,
       percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) AS q3
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


_HIST_BINS = 20


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of l_extendedprice: data-derived bounds
    (one tiny min/max aggregate, broadcast into the binning scan) and
    ``floor((x-lo)/w)`` bin assignment clamped to the last bin. Two
    passes over the fact table, both full-scan aggregates with
    map-side partials — the distribution-profiling primitive for
    deciding salting/clamping strategies before a big job. Bin edges
    and fills use the same IEEE double expressions in both engines,
    so counts match exactly."""
    li = load(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min(F.col("l_extendedprice").cast("double")).alias("lo"),
        F.max(F.col("l_extendedprice").cast("double")).alias("hi"),
    )
    binned = li.crossJoin(bounds).select(
        F.least(
            F.floor(
                (F.col("l_extendedprice").cast("double") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / F.lit(float(_HIST_BINS)))
            ),
            F.lit(_HIST_BINS - 1),
        )
        .cast("bigint")
        .alias("bin"),
        F.col("lo"),
        F.col("hi"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.first("lo") + F.col("bin") * ((F.first("hi") - F.first("lo")) / F.lit(float(_HIST_BINS))),
                6,
            ).alias("bin_lo"),
        )
        .select("bin", "bin_lo", "n")
        .orderBy("bin")
    )


AGG_HISTOGRAM_ORACLE = f"""
WITH b AS (
    SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS lo,
           MAX(CAST(l_extendedprice AS DOUBLE)) AS hi
    FROM lineitem
),
binned AS (
    SELECT LEAST(
               CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - lo)
                          / ((hi - lo) / {_HIST_BINS}.0)) AS BIGINT),
               {_HIST_BINS - 1}
           ) AS bin,
           lo, hi
    FROM lineitem CROSS JOIN b
)
SELECT bin,
       round(MIN(lo) + bin * ((MIN(hi) - MIN(lo)) / {_HIST_BINS}.0), 6) AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n
FROM binned
GROUP BY bin
ORDER BY bin
"""


SPECS = [
    QuerySpec("join_outer_left", join_outer_left, JOIN_OUTER_LEFT_ORACLE),
    QuerySpec("agg_grouping_sets", agg_grouping_sets, AGG_GROUPING_SETS_ORACLE),
    QuerySpec("agg_percentile_exact", agg_percentile_exact, AGG_PERCENTILE_EXACT_ORACLE),
    QuerySpec(
        "agg_histogram",
        agg_histogram,
        AGG_HISTOGRAM_ORACLE,
    ),
    QuerySpec("join_outer_full", join_outer_full, JOIN_OUTER_FULL_ORACLE),
    QuerySpec("join_semi_anti", join_semi_anti, JOIN_SEMI_ANTI_ORACLE),
    QuerySpec("agg_pivot", agg_pivot, AGG_PIVOT_ORACLE),
    QuerySpec("proj_unpivot", proj_unpivot, PROJ_UNPIVOT_ORACLE),
    QuerySpec("proj_posexplode", proj_posexplode, PROJ_POSEXPLODE_ORACLE),
    QuerySpec("filter_null_safe_eq", filter_null_safe_eq, FILTER_NULL_SAFE_EQ_ORACLE),
    QuerySpec("fn_math_ops", fn_math_ops, FN_MATH_OPS_ORACLE),
    QuerySpec("fn_cond_case", fn_cond_case, FN_COND_CASE_ORACLE),
    QuerySpec("subquery_correlated", subquery_correlated, _SUBQUERY_SQL),
    QuerySpec("sql_frontend_report", sql_frontend_report, _FRONTEND_SQL),
]


def _cdc_base_updates(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Deterministic CDC fixture: the orders snapshot as version 0,
    plus an update batch (every 20th order by content hash, repriced
    +10% with status 'U') as version 1. Shared by the merge and the
    SCD2 history builds."""
    from ._helpers import h32  # noqa: PLC0415

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.lit(0).alias("version"),
    )
    updates = (
        load(spark, sf_dir, "orders")
        .filter(h32(F.col("o_orderkey").cast("string")) % 20 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice").cast("decimal(18,2)") * F.lit(1.1), 2)
            .cast("decimal(18,2)")
            .alias("price"),
            F.lit(1).alias("version"),
        )
    )
    return base, updates


def wf_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture merge (MERGE INTO without a table format):
    apply an update batch onto a base snapshot with latest-wins
    semantics — union version-stamped rows, keep row_number()=1 per
    key ordered by version desc. ONE shuffle on the merge key resolves
    the whole batch — at 100 TB this is the incremental-ingestion
    path, and the window (not a join) means the base is read once.
    DECIMAL repricing keeps both engines bit-identical."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    base, updates = _cdc_base_updates(spark, sf_dir)
    w = W.partitionBy("o_orderkey").orderBy(F.desc("version"))
    return (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("price").cast("double").alias("o_totalprice"),
        )
    )


WF_CDC_UPSERT_ORACLE = """
WITH base AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price, 0 AS version
    FROM orders
),
updates AS (
    SELECT o_orderkey, 'U' AS o_orderstatus,
           CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DECIMAL(18,2)) AS price,
           1 AS version
    FROM orders
    WHERE ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 20 = 0
),
merged AS (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
    FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
)
SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS o_totalprice
FROM merged WHERE rn = 1
"""


def filter_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR outlier clipping — the data-cleaning gate before stats or
    training: per return flag, keep rows inside [q1−1.5·IQR,
    q3+1.5·IQR] of l_extendedprice. The per-group fences come from
    one exact-percentile aggregate (group COUNT is tiny; each group's
    VALUES are buffered by the exact percentile — swap in
    approx_percentile at 100 TB, fences otherwise unchanged) broadcast
    back onto the fact scan; the audit output is kept/total per
    group. Both engines share the interpolating percentile
    definition, so the fences are the same doubles."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("x")
    )
    fences = li.groupBy("l_returnflag").agg(
        F.expr("percentile(x, 0.25)").alias("q1"),
        F.expr("percentile(x, 0.75)").alias("q3"),
        F.count(F.lit(1)).alias("n_total"),
    )
    return (
        li.join(F.broadcast(fences), "l_returnflag")
        .filter(
            (F.col("x") >= F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")))
            & (F.col("x") <= F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.first("n_total").alias("n_total"))
        .orderBy("l_returnflag")
    )


FILTER_OUTLIER_IQR_ORACLE = """
WITH li AS (
    SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
),
fences AS (
    SELECT l_returnflag,
           percentile_cont(0.25) WITHIN GROUP (ORDER BY x) AS q1,
           percentile_cont(0.75) WITHIN GROUP (ORDER BY x) AS q3,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM li GROUP BY l_returnflag
)
SELECT li.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       MIN(n_total) AS n_total
FROM li JOIN fences ON li.l_returnflag = fences.l_returnflag
WHERE x >= q1 - 1.5 * (q3 - q1) AND x <= q3 + 1.5 * (q3 - q1)
GROUP BY li.l_returnflag
ORDER BY li.l_returnflag
"""

def wf_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: instead of overwriting on
    merge (wf_cdc_upsert), keep EVERY version as a validity interval —
    valid_from = its version, valid_to = the next version for the key
    (lead window), is_current where no successor exists. The same ONE
    shuffle on the business key resolves the whole history; at 100 TB
    this is the warehouse dimension-build path."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    base, updates = _cdc_base_updates(spark, sf_dir)
    w = W.partitionBy("o_orderkey").orderBy("version")
    return (
        base.unionByName(updates)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("price").cast("double").alias("o_totalprice"),
            F.col("version").alias("valid_from"),
            F.lead("version").over(w).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


WF_SCD2_HISTORY_ORACLE = """
WITH base AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price, 0 AS version
    FROM orders
),
updates AS (
    SELECT o_orderkey, 'U' AS o_orderstatus,
           CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DECIMAL(18,2)) AS price,
           1 AS version
    FROM orders
    WHERE ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 20 = 0
),
hist AS (
    SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS o_totalprice,
           version AS valid_from,
           lead(version) OVER (PARTITION BY o_orderkey ORDER BY version) AS valid_to
    FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
)
SELECT *, valid_to IS NULL AS is_current FROM hist
"""


PACK_BUDGET = 512  # tokens per training batch bin


def wf_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: assign documents to fixed-budget
    training bins and report per-bin occupancy. Docs are ordered
    longest-first within their source (the deterministic next-fit
    order), a running token sum assigns bin_id = tokens_before DIV
    budget, then one aggregate summarizes each bin.

    Scale shape: the window partitions by SOURCE, not globally — each
    source's packing is independent, so there is no single-reducer
    global sort; at 100 TB this is one shuffle on source (or zero if
    the corpus is already source-partitioned). Integer DIV keeps both
    engines exact (no float floor)."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.desc("n_tokens"), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = docs.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "bin_id", F.expr(f"(cum - n_tokens) div {PACK_BUDGET}")
    )
    return (
        packed.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.max("n_tokens").alias("max_doc_tokens"),
        )
        .orderBy("source", "bin_id")
    )


WF_PACK_SEQUENCES_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
packed AS (
    SELECT source, n_tokens,
           CAST((SUM(n_tokens) OVER (PARTITION BY source
                                     ORDER BY n_tokens DESC, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin_id
    FROM docs
)
SELECT source, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       MAX(n_tokens) AS max_doc_tokens
FROM packed
GROUP BY source, bin_id
ORDER BY source, bin_id
"""


SPECS.extend(
    [
        QuerySpec(
            "wf_cdc_upsert",
            wf_cdc_upsert,
            WF_CDC_UPSERT_ORACLE,
        ),
        QuerySpec(
            "filter_outlier_iqr",
            filter_outlier_iqr,
            FILTER_OUTLIER_IQR_ORACLE,
        ),
        QuerySpec(
            "wf_pack_sequences",
            wf_pack_sequences,
            WF_PACK_SEQUENCES_ORACLE,
        ),
        QuerySpec(
            "wf_scd2_history",
            wf_scd2_history,
            WF_SCD2_HISTORY_ORACLE,
        ),
    ]
)


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier — not expressible as one SQL clause, and
# the naive formulation is an O(n²) dominance anti-join. This is the
# scalable two-pass shape: per-price group maxima, a PARTITIONED
# prefix-max window inside coarse price buckets, and a tiny
# bucket-level running max stitched across buckets — no global-order
# window over the fact table, so it survives 100 TB (the only
# unpartitioned window runs over ~#buckets rows).
# ---------------------------------------------------------------------------

SKYLINE_PRICE_BUCKET = 10.0


def analytic_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts: minimize p_retailprice, maximize p_size.
    A part survives iff no other part is <= on price and >= on size
    with one strict. Survivors = rows that equal their price-group max
    size and strictly exceed every strictly-cheaper group's max."""
    from pyspark.sql import Window  # noqa: PLC0415

    part = load(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    g = (
        part.groupBy("p_retailprice")
        .agg(F.max("p_size").alias("grp_max"))
        .withColumn(
            "bucket",
            F.floor(F.col("p_retailprice") / SKYLINE_PRICE_BUCKET).cast("long"),
        )
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gp = g.withColumn("in_prefix", F.max("grp_max").over(w_in))
    bm = g.groupBy("bucket").agg(F.max("grp_max").alias("b_max"))
    w_bk = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bp = bm.withColumn("prev_b_max", F.max("b_max").over(w_bk)).select(
        "bucket", "prev_b_max"
    )
    g2 = gp.join(F.broadcast(bp), "bucket").select(
        "p_retailprice",
        "grp_max",
        F.greatest(
            F.coalesce("in_prefix", F.lit(-1)),
            F.coalesce("prev_b_max", F.lit(-1)),
        ).alias("dom_max"),
    )
    return (
        part.join(g2, "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("grp_max"))
            & (F.col("p_size") > F.col("dom_max"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


ANALYTIC_SKYLINE_ORACLE = f"""
WITH g AS (
    SELECT p_retailprice, MAX(p_size) AS grp_max,
           CAST(floor(p_retailprice / {SKYLINE_PRICE_BUCKET}) AS BIGINT) AS bucket
    FROM part GROUP BY p_retailprice
),
gp AS (
    SELECT *, MAX(grp_max) OVER (PARTITION BY bucket ORDER BY p_retailprice
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS in_prefix
    FROM g
),
bm AS (SELECT bucket, MAX(grp_max) AS b_max FROM g GROUP BY bucket),
bp AS (
    SELECT bucket, MAX(b_max) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_b_max
    FROM bm
),
g2 AS (
    SELECT gp.p_retailprice, gp.grp_max,
           greatest(coalesce(gp.in_prefix, -1), coalesce(bp.prev_b_max, -1)) AS dom_max
    FROM gp JOIN bp USING (bucket)
)
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p JOIN g2 ON p.p_retailprice = g2.p_retailprice
WHERE p.p_size = g2.grp_max AND p.p_size > g2.dom_max
ORDER BY p.p_retailprice, p.p_partkey
"""

SPECS.append(
    QuerySpec(
        "analytic_skyline",
        analytic_skyline,
        ANALYTIC_SKYLINE_ORACLE,
    )
)


_CBO_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
}

_CBO_TABLES = ("lineitem", "nation", "orders", "customer")


def _cbo_table_name(sf_dir: str, table: str) -> str:
    import os  # noqa: PLC0415

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    return f"stats_{table}_{tag}"


def catalog_stats_cbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based optimization from ANALYZE'd catalog statistics — how
    a 1000-executor cluster avoids planning a 100 TB fact table early
    in a join tree. Fixture tables are registered as external catalog
    tables (sf-scoped names, idempotent), `ANALYZE TABLE .. COMPUTE
    STATISTICS FOR COLUMNS <join keys>` collects row counts + key NDVs,
    and the 4-way star query below is DELIBERATELY written in a
    pathological order (fact first, dims last). With
    `spark.sql.cbo.joinReorder.enabled`, Catalyst re-orders from the
    statistics: customer⋈nation (25 rows) builds first, the fact scan
    joins last — and the optimized plan's cardinality estimate for
    the output is exact (tests/test_scale_posture.py asserts both).
    The conf window follows the `join_bloom_prefilter` pattern:
    QueryExecution caches the optimized plan forced inside the
    window, then session confs are restored."""
    stat_cols = {
        "lineitem": "l_orderkey",
        "nation": "n_nationkey, n_name",
        "orders": "o_orderkey, o_custkey",
        "customer": "c_custkey, c_nationkey",
    }
    for t in _CBO_TABLES:
        tbl = _cbo_table_name(sf_dir, t)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {tbl} USING parquet "
            f"LOCATION '{sf_dir}/{t}.parquet'"
        )
        # row counts + NDV/min/max for the JOIN KEYS only: that is all
        # the reorderer consumes here, and at 100 TB "ANALYZE FOR ALL
        # COLUMNS" is an own-goal (full NDV pass over every string col)
        spark.sql(
            f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS {stat_cols[t]}"
        )
    li, na, od, cu = (_cbo_table_name(sf_dir, t) for t in _CBO_TABLES)
    with scoped_confs(spark, _CBO_CONFS):
        out = spark.sql(
            f"""
            SELECT n_name,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM {li} l, {na} n, {od} o, {cu} c
            WHERE l.l_orderkey = o.o_orderkey
              AND o.o_custkey = c.c_custkey
              AND c.c_nationkey = n.n_nationkey
            GROUP BY n_name
            """
        )
        out._jdf.queryExecution().optimizedPlan()
        return out


CATALOG_STATS_CBO_ORACLE = """
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem l, nation n, orders o, customer c
WHERE l.l_orderkey = o.o_orderkey
  AND o.o_custkey = c.c_custkey
  AND c.c_nationkey = n.n_nationkey
GROUP BY n_name
"""

SPECS.append(
    QuerySpec(
        "catalog_stats_cbo",
        catalog_stats_cbo,
        CATALOG_STATS_CBO_ORACLE,
    )
)


_RECURSIVE_WALK_SQL = """
WITH RECURSIVE walk(node_id, root_region, level) AS (
    SELECT CONCAT('r', CAST(r_regionkey AS {str_t})), r_name, 0
    FROM region
    UNION ALL
    SELECT child.node_id, walk.root_region, walk.level + 1
    FROM walk
    JOIN (
        SELECT CONCAT('r', CAST(n_regionkey AS {str_t})) AS parent_id,
               CONCAT('n', CAST(n_nationkey AS {str_t})) AS node_id
        FROM nation
        UNION ALL
        SELECT CONCAT('n', CAST(c_nationkey AS {str_t})) AS parent_id,
               CONCAT('c', CAST(c_custkey AS {str_t})) AS node_id
        FROM customer
    ) child ON child.parent_id = walk.node_id
)
SELECT root_region, CAST(level AS {int_t}) AS level,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM walk GROUP BY root_region, level
"""


def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 `WITH RECURSIVE`) — the declarative
    form of the engine's iterative fixpoints (cc_clusters.py drives
    the same recursion by hand; the reference's crawl loop at
    `/root/reference/x2.2.py:285-324` is this walk, serialized): the
    region→nation→customer hierarchy is flattened as a typed-id
    parent/child edge union and walked from the region roots, giving
    per-root level populations. Each recursion step is one join
    against the (dimension-sized) edge table; depth is bounded by the
    hierarchy (3), not a guessed iteration cap. DuckDB runs the same
    recursion verbatim — the oracle differs only in type-name
    spelling (STRING/VARCHAR)."""
    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_WALK_SQL.format(str_t="STRING", int_t="INT"))


SQL_RECURSIVE_CTE_ORACLE = _RECURSIVE_WALK_SQL.format(
    str_t="VARCHAR", int_t="INTEGER"
)


def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — per-outer-row top-k without a
    window function: for each nation, its two highest-balance
    customers (deterministic tiebreak on custkey). Catalyst decorrelates
    the LATERAL into a join + per-group limit rather than re-executing
    the subquery per row — the shape `topk_per_group` expresses with
    a rank window, here written the way migrating SQL users write it.
    DuckDB executes the identical statement as the oracle."""
    register_views(spark, sf_dir)
    return spark.sql(SQL_LATERAL_TOPK_ORACLE)


SQL_LATERAL_TOPK_ORACLE = """
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n,
LATERAL (
    SELECT c_custkey, c_acctbal FROM customer c
    WHERE c.c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_custkey LIMIT 2
) t
"""


def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators) — the TPC-H Q1 shape
    written as a linear pipeline (FROM → WHERE → EXTEND → AGGREGATE →
    ORDER BY) instead of inside-out nested SQL. Same Catalyst plan as
    the classic form; the DuckDB oracle is the classic form, so the
    check also proves the two syntaxes agree."""
    register_views(spark, sf_dir)
    return spark.sql("""
FROM lineitem
|> WHERE l_shipdate >= TIMESTAMP '1998-01-01'
|> EXTEND l_extendedprice * (1 - l_discount) AS gross
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(gross AS DECIMAL(18,4))) AS DOUBLE) AS revenue
   GROUP BY l_returnflag, l_linestatus
|> ORDER BY l_returnflag, l_linestatus
""")


SQL_PIPE_SYNTAX_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""

SPECS.extend(
    [
        QuerySpec(
            "sql_recursive_cte",
            sql_recursive_cte,
            SQL_RECURSIVE_CTE_ORACLE,
        ),
        QuerySpec(
            "sql_lateral_topk",
            sql_lateral_topk,
            SQL_LATERAL_TOPK_ORACLE,
        ),
        QuerySpec(
            "sql_pipe_syntax",
            sql_pipe_syntax,
            SQL_PIPE_SYNTAX_ORACLE,
        ),
    ]
)


def join_existence_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a PROJECTED column (not a filter): every customer
    with a boolean "has an urgent order" flag. Catalyst plans the
    correlation as an ExistenceJoin — the fifth join shape next to
    inner/outer/semi/anti (plan-asserted): like a left-semi it stops
    probing on first match and never duplicates rows, but non-matching
    rows survive carrying false. The 100 TB enrichment-flag pattern —
    a naive LEFT JOIN + IS NOT NULL would duplicate on multi-match
    and need a post-dedup."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment,
               EXISTS(SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT') AS has_urgent
        FROM customer c
        """
    )


JOIN_EXISTENCE_PROJECT_ORACLE = """
SELECT c_custkey, c_mktsegment,
       EXISTS(SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT') AS has_urgent
FROM customer c
"""


def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI `FILTER (WHERE ...)` on aggregates — several differently-
    conditioned aggregates in ONE pass over the fact table (the
    alternative is N scans or N self-joins; at 100 TB this clause IS
    the multi-metric dashboard query). DuckDB executes the identical
    statement."""
    register_views(spark, sf_dir)
    return spark.sql(AGG_FILTER_CLAUSE_ORACLE)


AGG_FILTER_CLAUSE_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT) AS n_big,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS sum_finished,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open
FROM orders GROUP BY o_orderpriority
"""

SPECS.extend(
    [
        QuerySpec(
            "join_existence_project",
            join_existence_project,
            JOIN_EXISTENCE_PROJECT_ORACLE,
        ),
        QuerySpec(
            "agg_filter_clause",
            agg_filter_clause,
            AGG_FILTER_CLAUSE_ORACLE,
        ),
    ]
)


def set_ops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations — `INTERSECT ALL` / `EXCEPT ALL`
    preserve MULTIPLICITY (min / difference of per-value counts),
    unlike the DISTINCT set ops the engine already ships
    (`set_difference` / `set_intersection`). Order keys appear once
    per matching line item on each side, so the multiplicities are
    real. Spark plans both without building count-maps by hand; the
    oracle is the identical statement. Output: surviving keys with
    their multiplicities per operator."""
    register_views(spark, sf_dir)
    return spark.sql(SET_OPS_MULTISET_ORACLE)


SET_OPS_MULTISET_ORACLE = """
WITH r_items AS (
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
), f_items AS (
    SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
), inter AS (
    SELECT l_orderkey FROM r_items INTERSECT ALL SELECT l_orderkey FROM f_items
), diff AS (
    SELECT l_orderkey FROM r_items EXCEPT ALL SELECT l_orderkey FROM f_items
)
SELECT 'intersect_all' AS op, l_orderkey, CAST(COUNT(*) AS BIGINT) AS multiplicity
FROM inter GROUP BY l_orderkey
UNION ALL
SELECT 'except_all' AS op, l_orderkey, CAST(COUNT(*) AS BIGINT) AS multiplicity
FROM diff GROUP BY l_orderkey
"""

SPECS.append(
    QuerySpec(
        "set_ops_multiset",
        set_ops_multiset,
        SET_OPS_MULTISET_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# param_execute_immediate — dynamic SQL with session variables (Spark 4)
# ---------------------------------------------------------------------------


def param_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic parameterized SQL: a session VARIABLE (``DECLARE``)
    holds the operating threshold, and ``EXECUTE IMMEDIATE … USING``
    binds positional parameters into a query STRING at runtime — the
    Spark 4 completion of the reference's templated-query pattern
    (`opentargets_client_api.py` string templates) alongside
    ``param_bind`` (named literal args) and ``param_identifier``
    (IDENTIFIER clause for table names). Everything stays in
    Catalyst: the bound plan is indistinguishable from the inline
    query, so pushdown/pruning survive dynamic construction.

    DECLARE OR REPLACE keeps repeated driver calls idempotent (the
    same session-global discipline as param_bind's temp view)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("ord_exim")
    spark.sql("DECLARE OR REPLACE exim_status STRING DEFAULT 'F'")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
                       AS DOUBLE) / 100.0 AS total
           FROM ord_exim
           WHERE o_orderstatus = exim_status AND o_totalprice >= ?
           GROUP BY o_orderpriority
           ORDER BY o_orderpriority'
        USING 1000.0
        """
    )


PARAM_EXECUTE_IMMEDIATE_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
            AS DOUBLE) / 100.0 AS total
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 1000.0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

SPECS.append(
    QuerySpec(
        "param_execute_immediate",
        param_execute_immediate,
        PARAM_EXECUTE_IMMEDIATE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# join_hint_matrix — the join-strategy hint surface, result-identical
# ---------------------------------------------------------------------------

_HINT_STRATEGIES = ("BROADCAST", "SHUFFLE_MERGE", "SHUFFLE_HASH")


def join_hint_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same orders⋈customer aggregation executed under each join
    strategy HINT Spark exposes — BROADCAST, SHUFFLE_MERGE (sort-
    merge), SHUFFLE_HASH — proving the hint surface is plumbed and
    that physical strategy never changes results: all three rows must
    carry identical counts and DECIMAL checksums (the oracle enforces
    it by emitting the same values per strategy). This is the
    escape hatch when AQE's choice is wrong at 100 TB — e.g. forcing
    SHUFFLE_HASH when a sorted merge would spill, or un-forcing a
    broadcast that no longer fits; the plan-shape test asserts each
    hint actually materializes its physical join node."""
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = None
    for strat in _HINT_STRATEGIES:
        j = orders.join(
            cust.hint(strat), orders.o_custkey == cust.c_custkey
        ).filter(F.col("c_mktsegment") == "BUILDING")
        row = j.agg(
            F.lit(strat).alias("strategy"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("double")
            .alias("total_cents"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("strategy")


def _hint_matrix_oracle() -> str:
    rows = []
    for strat in _HINT_STRATEGIES:
        rows.append(
            f"""SELECT '{strat}' AS strategy,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS DOUBLE)
           AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'"""
        )
    return "\nUNION ALL\n".join(rows) + "\nORDER BY strategy"


SPECS.append(
    QuerySpec(
        "join_hint_matrix",
        join_hint_matrix,
        _hint_matrix_oracle(),
    )
)


# ---------------------------------------------------------------------------
# sql_group_by_all — GROUP BY ALL / ORDER BY ALL sugar
# ---------------------------------------------------------------------------


def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` + ``ORDER BY ALL`` (Spark 4 ≡ DuckDB sugar):
    every non-aggregate select item becomes a grouping key, the whole
    select list the sort key — the ergonomic form analysts actually
    write. The oracle is DuckDB's own GROUP BY ALL, so the check
    pins that both engines infer the SAME grouping keys from the
    projection (a regression here silently changes grain)."""
    register_views(spark, sf_dir)
    return spark.sql("""
SELECT c_mktsegment, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS DOUBLE)
           AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY ALL
ORDER BY ALL
""")


SQL_GROUP_BY_ALL_ORACLE = """
SELECT c_mktsegment, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS DOUBLE)
           AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY ALL
ORDER BY ALL
"""

SPECS.append(
    QuerySpec(
        "sql_group_by_all",
        sql_group_by_all,
        SQL_GROUP_BY_ALL_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# join_null_aware_anti — NOT IN (subquery): three-valued anti-join
# ---------------------------------------------------------------------------


def join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``NOT IN (subquery)`` with SQL's three-valued NULL semantics —
    the null-aware anti join. Two legs pin both behaviors: against a
    null-free exclusion subquery, NOT IN behaves like an anti join;
    against a subquery CONTAINING a NULL, NOT IN is empty (x <> NULL
    is UNKNOWN for every x) — the classic migration trap that a plain
    left_anti would get wrong. Spark plans the single-column case as a
    BroadcastHashJoin in NullAware LeftAnti mode (streamed side probes
    a one-null-aware hash relation); a naive engine re-executes the
    subquery per row. Both legs return their COUNT so the empty leg is
    an observable 0, not an absent row."""
    from ..catalog import register_views  # noqa: PLC0415

    register_views(spark, sf_dir)
    return spark.sql(JOIN_NULL_AWARE_ANTI_ORACLE)


JOIN_NULL_AWARE_ANTI_ORACLE = """
SELECT 'no_null_sub' AS leg, CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_custkey NOT IN (
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
)
UNION ALL
SELECT 'null_sub' AS leg, CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_custkey NOT IN (
    SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
    FROM customer
)
"""

SPECS.append(
    QuerySpec(
        "join_null_aware_anti",
        join_null_aware_anti,
        JOIN_NULL_AWARE_ANTI_ORACLE,
    )
)
