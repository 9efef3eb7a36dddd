"""Composite analytical queries — the full-engine workloads the
reference never had (SURVEY §2.7 'absent' rows note the engine gets
Spark's whole surface; these exercise it in TPC-H shapes), plus the
grouped-pandas path (`applyInPandas`) for per-group logic that SQL
can't express but a batch of pandas can.

All DECIMAL-revenue, explicit-tiebreaker disciplined, so each
hash-matches its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..spec import QuerySpec
from ._helpers import SQL_DISC_PRICE, disc_price, h32


def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: revenue of unshipped-at-date orders for one segment,
    top 10. Three-table join, facts first: filtered orders ⋈ lineitem,
    then the segment's customers (SCALE.md "Joins"); group on
    (orderkey, orderdate, priority); TakeOrdered for the top-k."""
    customer = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15"))
    lineitem = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15"))
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(customer, customer.c_custkey == orders.o_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


TPCH_Q3_ORACLE = f"""
SELECT o_orderkey,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: per-nation revenue where customer and supplier share
    the nation, one region, one year. Five-table join, facts first
    (SCALE.md "Joins"): dims broadcast, the customer=supplier nation
    equi-condition rides the join."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(customer, customer.c_custkey == orders.o_custkey)
        .join(
            F.broadcast(supplier),
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
    )


TPCH_Q5_ORACLE = f"""
SELECT n_name, CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by lost revenue on returned items
    in a quarter — join (facts first, SCALE.md "Joins") + filter +
    group + TakeOrdered."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-07-01"))
    )
    lineitem = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(customer, customer.c_custkey == orders.o_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


TPCH_Q10_ORACLE = f"""
SELECT c_custkey, c_name, n_name,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def grouped_pandas_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group pandas logic via applyInPandas (Arrow batch per
    group): top-3 customers per nation ranked in pandas. Outputs are
    integers/strings only, so the pandas path is hash-checked against
    a window-function oracle — proving the grouped-UDF machinery, not
    just running it. Closure-wrapped for by-value pickling."""

    def topk_fn():
        def topk(pdf):
            out = pdf.sort_values(
                ["c_acctbal", "c_custkey"], ascending=[False, True]
            ).head(3)
            out = out.assign(rank=range(1, len(out) + 1))
            return out[["c_nationkey", "c_custkey", "c_name", "rank"]]

        return topk

    customer = load(spark, sf_dir, "customer")
    return customer.groupBy("c_nationkey").applyInPandas(
        topk_fn(), schema="c_nationkey int, c_custkey long, c_name string, rank long"
    )


GROUPED_PANDAS_TOPK_ORACLE = """
SELECT c_nationkey, c_custkey, c_name,
       CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rank
FROM customer
QUALIFY rank <= 3
"""


SPECS = [
    QuerySpec("tpch_q3_shipping_priority", tpch_q3_shipping_priority, TPCH_Q3_ORACLE),
    QuerySpec("tpch_q5_local_supplier_volume", tpch_q5_local_supplier_volume, TPCH_Q5_ORACLE),
    QuerySpec("tpch_q10_returned_items", tpch_q10_returned_items, TPCH_Q10_ORACLE),
    QuerySpec("grouped_pandas_topk", grouped_pandas_topk, GROUPED_PANDAS_TOPK_ORACLE),
]


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis over the activity stream: per user, did a
    view → click → purchase sequence occur IN ORDER? Sequence
    detection via per-step min-timestamps with ordering constraints —
    one aggregation pass, no self-joins (the window-free funnel
    shape that scales linearly in events)."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view")
    )
    # each later step's min-timestamp is constrained to occur after
    # the previous step's time: one aggregation pass per funnel step
    ev2 = ev.join(per_user, "user_id")
    per_funnel = ev2.groupBy("user_id").agg(
        F.min("first_view").alias("t_view"),
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("first_view")),
                F.col("ts"),
            )
        ).alias("t_click"),
    )
    ev3 = ev.join(per_funnel, "user_id")
    return (
        ev3.groupBy("user_id")
        .agg(
            F.min("t_view").alias("t_view"),
            F.min("t_click").alias("t_click"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase"),
        )
        .select(
            "user_id",
            F.col("t_view").isNotNull().alias("reached_view"),
            F.col("t_click").isNotNull().alias("reached_click"),
            F.col("t_purchase").isNotNull().alias("reached_purchase"),
        )
    )


FUNNEL_CONVERSION_ORACLE = """
WITH v AS (
    SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
    FROM events GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(CASE WHEN e.event_type = 'click' AND e.ts > v.t_view THEN e.ts END) AS t_click
    FROM events e JOIN v ON e.user_id = v.user_id
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_click THEN e.ts END) AS t_purchase
    FROM events e JOIN c ON e.user_id = c.user_id
    GROUP BY e.user_id
)
SELECT v.user_id,
       v.t_view IS NOT NULL AS reached_view,
       c.t_click IS NOT NULL AS reached_click,
       p.t_purchase IS NOT NULL AS reached_purchase
FROM v JOIN c ON v.user_id = c.user_id JOIN p ON v.user_id = p.user_id
"""

SPECS.append(
    QuerySpec(
        "funnel_conversion",
        funnel_conversion,
        FUNNEL_CONVERSION_ORACLE,
    )
)


def tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: per return-flag, how many high- vs low-priority
    orders ship under it — CASE-conditional counting inside one
    aggregation (no per-branch scans)."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_count"),
        )
    )


TPCH_Q12_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
"""


def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share — a conditional-sum / total-sum
    ratio in one pass. Both sums exact DECIMAL; the final division is
    one double op (deterministic)."""
    part = load(spark, sf_dir, "part")
    lineitem = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-07-01"))
    )
    promo = F.when(F.col("p_type") == "PROMO", disc_price()).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(disc_price()).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


TPCH_Q14_ORACLE = f"""
SELECT round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {SQL_DISC_PRICE}
                                   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-07-01'
"""


def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the 100 TB cardinality/quantile tools
    (HLL approx_count_distinct, approx_percentile) — made ORACLE-ABLE
    by the sim_ann_recall_matrix pattern (VERDICT r3 item 3): sketch
    internals are engine-specific so raw estimates can never
    hash-match, but the estimates' own error CONTRACT can — each
    approx value runs next to its exact counterpart in the same plan
    and the output carries the exact anchors plus boolean
    within-bound verdicts, which the oracle computes exactly and pins
    TRUE. Wider surface than agg_approx_error_eval (the original
    fine-grained companion): three quantiles (p25/p50/p75, each
    banded by the exact ±0.1-quantile window) and a global ALL row
    exercising sketch behavior at the table's full cardinality. A
    Spark sketch drifting outside its documented rsd fails the
    driver's hash gate. The band is 5×rsd, not 3× (ADVICE r4):
    rsd is a standard deviation, not a hard bound, so at an
    unbenchmarked scale factor a correctly-functioning sketch can
    exceed 3×rsd on some group; 5× makes a verdict failure mean a
    real sketch-contract break, not tail luck."""
    li = load(spark, sf_dir, "lineitem")

    def verdicts(grouped: DataFrame) -> DataFrame:
        return grouped.select(
            "l_returnflag",
            "exact_parts",
            "n",
            (
                F.abs(F.col("acd") - F.col("exact_parts"))
                <= F.col("exact_parts") * 0.10
            ).alias("cd_within_5rsd"),
            *[
                (
                    (F.col(f"aq{q}") >= F.col(f"lo{q}"))
                    & (F.col(f"aq{q}") <= F.col(f"hi{q}"))
                ).alias(f"q{q}_within_band")
                for q in (25, 50, 75)
            ],
        )

    def stats(df: DataFrame, keyed: bool) -> DataFrame:
        # ONE array-quantile call per family, not one aggregate per
        # quantile: percentile(col, array(...)) buffers the group's
        # values once and reads 6 cutpoints from the same buffer,
        # where six scalar percentile() aggregates would keep six
        # copies (measured 37.6 s → ~7 s at sf0.1 for this query).
        # Same for the approx side (one digest, 3 reads).
        exact_qs = "array(0.15D, 0.35D, 0.4D, 0.6D, 0.65D, 0.85D)"
        aggs = [
            F.approx_count_distinct("l_partkey", 0.02).alias("acd"),
            F.count_distinct("l_partkey").alias("exact_parts"),
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "percentile_approx(l_extendedprice,"
                " array(0.25D, 0.5D, 0.75D), 10000)"
            ).alias("aq"),
            F.expr(f"percentile(l_extendedprice, {exact_qs})").alias("eq"),
        ]
        named = [
            F.col("aq")[i].alias(f"aq{q}") for i, q in enumerate((25, 50, 75))
        ] + [
            F.col("eq")[2 * i].alias(f"lo{q}")
            for i, q in enumerate((25, 50, 75))
        ] + [
            F.col("eq")[2 * i + 1].alias(f"hi{q}")
            for i, q in enumerate((25, 50, 75))
        ]
        if keyed:
            grouped = df.groupBy("l_returnflag").agg(*aggs)
        else:
            grouped = df.agg(*aggs).select(
                F.lit("ALL").alias("l_returnflag"), "*"
            )
        return grouped.select(
            "l_returnflag", "acd", "exact_parts", "n", *named
        )

    return (
        verdicts(stats(li, keyed=True))
        .unionAll(verdicts(stats(li, keyed=False)))
        .orderBy("l_returnflag")
    )


AGG_APPROX_ORACLE = """
WITH per AS (
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL', CAST(COUNT(DISTINCT l_partkey) AS BIGINT), CAST(COUNT(*) AS BIGINT)
    FROM lineitem
)
SELECT l_returnflag, exact_parts, n,
       TRUE AS cd_within_5rsd,
       TRUE AS q25_within_band, TRUE AS q50_within_band, TRUE AS q75_within_band
FROM per ORDER BY l_returnflag
"""


SPECS.extend(
    [
        QuerySpec("tpch_q12_shipmode_priority", tpch_q12_shipmode_priority, TPCH_Q12_ORACLE),
        QuerySpec("tpch_q14_promo_revenue", tpch_q14_promo_revenue, TPCH_Q14_ORACLE),
        QuerySpec(
            "agg_approx",
            agg_approx,
            AGG_APPROX_ORACLE,
        ),
    ]
)


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the activity stream: users grouped by
    first-active day, what fraction are active k days later. The
    canonical product-analytics matrix: two aggregation passes plus
    one join — no per-offset rescans."""
    ev = load(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).dropDuplicates(["user_id", "day"])
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(cohorts, "user_id")
        .withColumn("day_offset", F.datediff("day", "cohort_day"))
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


COHORT_RETENTION_ORACLE = """
WITH activity AS (
    SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
cohorts AS (
    SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
)
SELECT c.cohort_day,
       CAST(date_diff('day', c.cohort_day, a.day) AS INTEGER) AS day_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM activity a JOIN cohorts c ON a.user_id = c.user_id
WHERE date_diff('day', c.cohort_day, a.day) <= 7
GROUP BY 1, 2
"""

SPECS.append(
    QuerySpec("cohort_retention", cohort_retention, COHORT_RETENTION_ORACLE)
)


def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: pure scan-filter-sum — the canonical pushdown probe
    (every predicate reaches the parquet reader; zero joins)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast(
        "decimal(8,2)"
    )
    return li.agg(F.sum(rev).cast("double").alias("forecast_revenue"))


TPCH_Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS forecast_revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct supplier counts per part attribute with a
    NOT-IN exclusion subquery (brand exclusion ≈ the reference's
    remove_diseases NOT-IN, composed into an aggregation)."""
    part = load(spark, sf_dir, "part").filter(~F.col("p_brand").isin("Brand#1", "Brand#2"))
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


TPCH_Q16_ORACLE = """
SELECT p_brand, p_type, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand NOT IN ('Brand#1', 'Brand#2')
GROUP BY p_brand, p_type
"""


def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: customers whose single orders exceed a quantity
    threshold — aggregate subquery feeding a semi-join, then the
    outer aggregation."""
    li = load(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        big_orders.join(orders, big_orders.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


TPCH_Q18_ORACLE = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM (
    SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
) b
JOIN orders ON b.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""

SPECS.extend(
    [
        QuerySpec("tpch_q6_forecast_revenue", tpch_q6_forecast_revenue, TPCH_Q6_ORACLE),
        QuerySpec("tpch_q16_supplier_cnt", tpch_q16_supplier_cnt, TPCH_Q16_ORACLE),
        QuerySpec("tpch_q18_large_orders", tpch_q18_large_orders, TPCH_Q18_ORACLE),
    ]
)


def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Datasketches HLL: per (event_type, day) sketches of
    distinct users, unioned across days per type — the incremental
    100 TB cardinality pattern (daily sketch partitions persisted,
    re-aggregated without rescanning history). Output pins the exact
    distinct count and a `within_5pct` accuracy flag; the oracle
    asserts the flag is TRUE (the sketch bytes themselves are
    engine-specific, but the accuracy CONTRACT is cross-checkable —
    if the estimate ever drifts past 5% the hash breaks)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        F.col("exact_users").cast("long"),
        (
            F.abs(F.col("est") - F.col("exact_users"))
            / F.col("exact_users").cast("double")
            <= F.lit(0.05)
        ).alias("within_5pct"),
    )


AGG_HLL_SKETCH_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM events GROUP BY event_type
"""

SPECS.append(
    QuerySpec(
        "agg_hll_sketch",
        agg_hll_sketch,
        AGG_HLL_SKETCH_ORACLE,
    )
)


PATH_HEAD_LEN = 5


def analytic_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User journey path analysis: each user's first 5 event types in
    (ts, event_id) order collapse to a '>'-joined path string; output
    is the path frequency table — the clickstream complement to
    funnel_conversion (which checks ONE ordered pattern; this surfaces
    ALL observed prefixes). One shuffle keyed user_id: a per-user rank
    window keeps only the first PATH_HEAD_LEN events BEFORE any
    collection, so per-group aggregation state is bounded at 5 structs
    per user (r5 — collecting the user's FULL event array first, as
    the original did, is unbounded state for a power user with 1e6
    events); the groupBy reuses the window's user_id partitioning, and
    the final count runs on the small path-keyed relation."""
    from pyspark.sql import Window  # noqa: PLC0415

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    head = ev.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= PATH_HEAD_LEN
    )
    paths = head.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))


ANALYTIC_USER_PATHS_ORACLE = f"""
WITH seqs AS (
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts, event_id)[1:{PATH_HEAD_LEN}], '>') AS path
    FROM events GROUP BY user_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM seqs GROUP BY path
"""

SPECS.append(
    QuerySpec(
        "analytic_user_paths",
        analytic_user_paths,
        ANALYTIC_USER_PATHS_ORACLE,
    )
)


_THETA_LG_K = 20  # nominal 2^20 entries per sketch — exact below that


def agg_theta_distinct_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches theta,
    Spark 4.1 `theta_sketch_agg`/`theta_union_agg`) — the 100 TB
    COUNT(DISTINCT) architecture: each partition builds a bounded
    sketch, partial aggregation merges them executor-side, and
    cross-group set union happens on kilobyte sketches instead of
    re-scanning the fact table (exact distinct would shuffle every
    raw key once per grouping). Output: per-event-type distinct
    users plus the 'ALL' union row computed FROM THE SKETCHES —
    never from the raw data.

    Oracle regime: a theta sketch is EXACT while retained entries
    stay under its nominal 2^20 (no sampling has kicked in), so at
    fixture scales this hash-matches exact COUNT(DISTINCT); at
    100 TB the same plan degrades gracefully to ~1.6% relative
    error per sketch instead of an OOM or a second shuffle. Unlike
    `agg_approx` (rows-only, HLL internals engine-specific), the
    below-nominal regime makes a full value oracle possible."""
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.theta_sketch_agg(F.col("user_id"), F.lit(_THETA_LG_K)).alias("sk")
    )
    per_type = per.select(
        "event_type",
        F.theta_sketch_estimate(F.col("sk")).cast("bigint").alias("distinct_users"),
    )
    union_all = per.agg(
        F.theta_sketch_estimate(
            F.theta_union_agg(F.col("sk"), F.lit(_THETA_LG_K))
        ).cast("bigint").alias("distinct_users")
    ).select(F.lit("ALL").alias("event_type"), "distinct_users")
    return per_type.unionAll(union_all)


AGG_THETA_DISTINCT_UNION_ORACLE = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL' AS event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events
"""

SPECS.append(
    QuerySpec(
        "agg_theta_distinct_union",
        agg_theta_distinct_union,
        AGG_THETA_DISTINCT_UNION_ORACLE,
    )
)


def agg_approx_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluating approximate aggregates — the oracle-able
    companion to the rows-only `agg_approx` (same pattern as
    `sim_lsh_recall_eval`): approx_count_distinct and
    approx_percentile run next to their EXACT counterparts in one
    plan, and the OUTPUT is the exact values plus boolean
    within-bound verdicts — approx distinct within 5×rsd (10%) of
    exact, approx median inside the exact p40..p60 band. Sketch
    internals differ per engine, so raw approx values can never
    hash-match; the VERDICTS can — the oracle computes the exact side
    and pins every verdict TRUE, so a Spark sketch drifting out of
    its own error contract fails the driver's hash gate."""
    li = load(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("acd"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("amed"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        # one value buffer for both exact cutpoints (see agg_approx)
        F.expr("percentile(l_extendedprice, array(0.4D, 0.6D))").alias("pb"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "*", F.col("pb")[0].alias("p40"), F.col("pb")[1].alias("p60")
    )
    return per_flag.select(
        "l_returnflag",
        "exact_parts",
        "n",
        (
            F.abs(F.col("acd") - F.col("exact_parts"))
            <= F.col("exact_parts") * 0.10
        ).alias("cd_within_5rsd"),
        ((F.col("amed") >= F.col("p40")) & (F.col("amed") <= F.col("p60"))).alias(
            "median_within_p40_p60"
        ),
    ).orderBy("l_returnflag")


AGG_APPROX_ERROR_EVAL_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       CAST(COUNT(*) AS BIGINT) AS n,
       TRUE AS cd_within_5rsd,
       TRUE AS median_within_p40_p60
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

SPECS.append(
    QuerySpec(
        "agg_approx_error_eval",
        agg_approx_error_eval,
        AGG_APPROX_ERROR_EVAL_ORACLE,
    )
)


def agg_theta_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full theta-sketch SET ALGEBRA (Spark 4.1 `theta_intersection`
    / `theta_difference`) over per-event-type user sketches: for
    every ordered type pair, the overlap |A∩B| and the exclusive
    remainder |A\\B| are computed ON THE SKETCHES — the audience-
    overlap query ("clickers who purchased", "viewers who never
    signed up") that at 100 TB must never re-shuffle raw user ids
    per pair: 5 sketches are built in ONE pass over the fact table,
    then the 20 pair combinations are kilobyte-sized sketch ops on
    the driver-side cross of a 5-row relation.

    Same oracle regime as `agg_theta_distinct_union`: theta sketches
    are exact below their 2^20 nominal, so every estimate
    hash-matches exact COUNT(DISTINCT) set algebra at fixture scale
    and degrades to ~1.6% error at 100 TB instead of blowing up."""
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.theta_sketch_agg(F.col("user_id"), F.lit(_THETA_LG_K)).alias("sk")
    )
    a = per.select(F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"))
    b = per.select(F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    return pairs.select(
        "type_a",
        "type_b",
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sk_a"), F.col("sk_b"))
        ).cast("bigint").alias("users_both"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("sk_a"), F.col("sk_b"))
        ).cast("bigint").alias("users_only_a"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("sk_b"), F.col("sk_a"))
        ).cast("bigint").alias("users_only_b"),
    ).orderBy("type_a", "type_b")


AGG_THETA_SET_ALGEBRA_ORACLE = """
WITH s AS (
    SELECT event_type, user_id FROM events GROUP BY event_type, user_id
),
types AS (SELECT DISTINCT event_type FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST((SELECT COUNT(*) FROM s x JOIN s y
             ON x.user_id = y.user_id
             WHERE x.event_type = a.event_type
               AND y.event_type = b.event_type) AS BIGINT) AS users_both,
       CAST((SELECT COUNT(*) FROM s x
             WHERE x.event_type = a.event_type
               AND x.user_id NOT IN (SELECT user_id FROM s y
                                     WHERE y.event_type = b.event_type))
            AS BIGINT) AS users_only_a,
       CAST((SELECT COUNT(*) FROM s y
             WHERE y.event_type = b.event_type
               AND y.user_id NOT IN (SELECT user_id FROM s x
                                     WHERE x.event_type = a.event_type))
            AS BIGINT) AS users_only_b
FROM types a JOIN types b ON a.event_type < b.event_type
ORDER BY type_a, type_b
"""

SPECS.append(
    QuerySpec(
        "agg_theta_set_algebra",
        agg_theta_set_algebra,
        AGG_THETA_SET_ALGEBRA_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Portable HyperLogLog (Flajolet et al. 2007) — owned hash family
# ---------------------------------------------------------------------------
#
# `agg_approx` (approx_count_distinct) is rows-only because Spark's HLL++
# internals aren't reproducible elsewhere. This variant OWNS every bit:
# h32 (the package's cross-engine hash) split into an 8-bit register index
# and a 24-bit suffix whose leading-zero rank feeds max-per-register. The
# harmonic denominator Z = sum(2^-M_b) sums 256 exact powers of two —
# mantissa needs ≤ 34 bits, so Z is bit-exact in IEEE double on BOTH
# engines and the estimate hash-matches without float discipline. The
# SURVEY §5 "own your hash family" rule applied to cardinality sketches.

_HLL_P = 8                      # 2^8 = 256 registers
_HLL_M = 1 << _HLL_P
_HLL_W = 32 - _HLL_P            # 24-bit suffix
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)  # alpha_256, standard constant


def agg_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HyperLogLog distinct-user estimates from
    hand-rolled registers, judged in-engine against exact
    COUNT(DISTINCT): raw → (type, register, rank) via one narrow
    map, max-per-register hash-agg, then a 256-row-per-group fold to
    the harmonic estimate with the standard small-range (linear
    counting) correction. The 100 TB shape: the shuffle carries at
    most m=256 rows per group (map-side max combine), and registers
    are mergeable across partitions/days by the same MAX — the
    mergeability theta sketches give you, but with a hash family the
    oracle can re-derive bit-for-bit."""
    ev = load(spark, sf_dir, "events")
    h = h32(F.col("user_id").cast("string"))
    bucket = (h / F.lit(1 << _HLL_W)).cast("long")  # top 8 bits
    w = h % F.lit(1 << _HLL_W)                       # low 24 bits
    # rank = leading zeros in the 24-bit suffix + 1 = W+1 - bitlen(w)
    rank = F.when(w == 0, F.lit(_HLL_W + 1)).otherwise(
        F.lit(_HLL_W + 1) - F.length(F.bin(w))
    )
    regs = (
        ev.select("event_type", bucket.alias("b"), rank.alias("r"))
        .groupBy("event_type", "b")
        .agg(F.max("r").alias("m_b"))
    )
    # fold registers: absent buckets contribute 2^0 each (rank 0)
    per_type = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_b"))).alias("z_present"),
    )
    zeros = F.lit(_HLL_M) - F.col("n_present")
    z = F.col("z_present") + zeros.cast("double")
    e_raw = F.lit(_HLL_ALPHA * _HLL_M * _HLL_M) / z
    # linear-counting small-range correction (V = empty registers)
    est = F.when(
        (e_raw <= 2.5 * _HLL_M) & (zeros > 0),
        F.round(F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / zeros), 6),
    ).otherwise(F.round(e_raw, 6))
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        per_type.select(
            "event_type",
            zeros.cast("long").alias("n_zero_registers"),
            est.alias("est_hll"),
        )
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_zero_registers",
            "est_hll",
            "exact_distinct",
            F.round(F.col("est_hll") / F.col("exact_distinct"), 6).alias("est_ratio"),
        )
    )


AGG_HLL_PORTABLE_ORACLE = f"""
WITH hashed AS (
    SELECT event_type,
           ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM events
), ranked AS (
    SELECT event_type,
           h // {1 << _HLL_W} AS b,
           CASE WHEN h % {1 << _HLL_W} = 0 THEN {_HLL_W + 1}
                ELSE {_HLL_W + 1} - len(printf('%b', h % {1 << _HLL_W})) END AS r
    FROM hashed
), regs AS (
    SELECT event_type, b, max(r) AS m_b FROM ranked GROUP BY event_type, b
), folded AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_present,
           sum(power(2.0, -m_b)) AS z_present
    FROM regs GROUP BY event_type
), est AS (
    SELECT event_type,
           CAST({_HLL_M} - n_present AS BIGINT) AS n_zero_registers,
           CASE WHEN {_HLL_ALPHA * _HLL_M * _HLL_M} / (z_present + ({_HLL_M} - n_present)) <= {2.5 * _HLL_M}
                 AND {_HLL_M} - n_present > 0
                THEN round({float(_HLL_M)} * ln({float(_HLL_M)} / ({_HLL_M} - n_present)), 6)
                ELSE round({_HLL_ALPHA * _HLL_M * _HLL_M} / (z_present + ({_HLL_M} - n_present)), 6)
           END AS est_hll
    FROM folded
), exact AS (
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
    FROM events GROUP BY event_type
)
SELECT e.event_type, e.n_zero_registers, e.est_hll, x.exact_distinct,
       round(e.est_hll / x.exact_distinct, 6) AS est_ratio
FROM est e JOIN exact x USING (event_type)
"""

SPECS.append(
    QuerySpec(
        "agg_hll_portable",
        agg_hll_portable,
        AGG_HLL_PORTABLE_ORACLE,
    )
)
