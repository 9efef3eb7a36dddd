"""TPC-H shapes Q2/Q4/Q7/Q8/Q9/Q13/Q15/Q17/Q19/Q20/Q21/Q22 adapted
to the fixture star schema (no partsupp, no commit/receipt dates, no
phone/comment columns — see TESTDATA.md), completing the decision-
support surface started in ``composite.py``.

These are capability queries the reference never had (SURVEY §2.7
notes the engine exposes Spark's entire relational surface; the
reference computes only counts — e.g. `/root/reference/x2.2.py`
association scans). Each shape exercises a distinct planner feature:
correlated EXISTS / NOT EXISTS (semi/anti joins), scalar subqueries,
per-group correlated aggregates, disjunctive join predicates,
left-outer count distributions — all DECIMAL-sum disciplined so every
query hash-matches its DuckDB oracle.

Scale notes (100 TB posture): every dimension side (nation, region,
part filters, per-part averages) is broadcast-sized or reduced to
broadcast size before joining the fact table; correlated subqueries
are expressed as joins against pre-aggregated keys so Catalyst plans
semi/anti hash joins instead of per-row subquery execution; all
aggregations have map-side partials (sums/counts over shuffled keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..spec import QuerySpec
from ._helpers import SQL_DISC_PRICE, disc_price


# ---------------------------------------------------------------------------
# Q2 — min-cost supplier per part (partsupp adapted to the lineitem bridge)
# ---------------------------------------------------------------------------


def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (adapted): for each STANDARD-type part shipped out of
    EUROPE, the supplier(s) with the minimum account balance among its
    shippers — the correlated-min subquery becomes a per-part min
    aggregate joined back (Catalyst: broadcast the filtered dims, one
    shuffle on partkey for the min, semi-join back)."""
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    li = load(spark, sf_dir, "lineitem")
    bridge = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .dropDuplicates(["p_partkey", "s_suppkey"])
    )
    min_bal = bridge.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        bridge.join(
            min_bal,
            (bridge.p_partkey == min_bal.mk) & (bridge.s_acctbal == min_bal.min_bal),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
        .limit(100)
    )


TPCH_Q2_ORACLE = """
WITH bridge AS (
    SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_type = 'STANDARD' AND p_size <= 10 AND r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM bridge b
WHERE s_acctbal = (SELECT MIN(s_acctbal) FROM bridge m WHERE m.p_partkey = b.p_partkey)
ORDER BY s_acctbal DESC, p_partkey, s_name
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS → left-semi join)
# ---------------------------------------------------------------------------


def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: quarterly order counts by priority for orders with at
    least one returned lineitem (EXISTS, adapted from late-receipt to
    l_returnflag since the fixture has no commit/receipt dates).
    The EXISTS plans as a left-semi hash join on orderkey — no
    row-per-subquery execution, one shuffle."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01"))
        & (F.col("o_orderdate") < F.lit("1997-10-01"))
    )
    returned = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


TPCH_Q4_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations
# ---------------------------------------------------------------------------


def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral trade volume between two nations by ship
    year. Supplier-nation and customer-nation both broadcast; the
    (n1,n2)|(n2,n1) disjunction rides the joined row, not the join
    condition, so both joins stay equi-joins."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31"))
    )
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rpair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair | rpair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


TPCH_Q7_ORACLE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Q8 — national market share
# ---------------------------------------------------------------------------


def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's share of PROMO-part revenue inside one
    region, by order year. Share = conditional sum / total sum in a
    single aggregation pass (no second scan); DECIMAL partials, final
    double division + round(6) — same fold in the oracle."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31"))
    )
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cnat = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    snat = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = disc_price()
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(cnat, F.col("c_nationkey") == F.col("c_nk"))
        .join(region, F.col("c_rk") == F.col("r_regionkey"))
        .join(load(spark, sf_dir, "supplier"), li.l_suppkey == F.col("s_suppkey"))
        .join(snat, F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(nat_vol).cast("double") / F.sum(vol).cast("double"), 6
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


TPCH_Q8_ORACLE = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {SQL_DISC_PRICE}
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE), 6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Q9 — product type profit (supplycost adapted to retailprice/10)
# ---------------------------------------------------------------------------


def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit on 'red' parts by supplier nation and order
    year. Cost proxy = p_retailprice x quantity / 10 (no partsupp in
    the fixture). Both sums are exact DECIMAL partials cast to double
    at the end; the final subtraction/division are IEEE-identical in
    Spark and DuckDB so the hash matches without rounding."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    cost = F.col("p_retailprice").cast("decimal(18,2)") * F.col("l_quantity").cast(
        "decimal(18,2)"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(
            (
                F.sum(disc_price()).cast("double")
                - F.sum(cost).cast("double") / F.lit(10.0)
            ).alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


TPCH_Q9_ORACLE = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE)
         - CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / 10.0
         AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (left outer + double group-by)
# ---------------------------------------------------------------------------


def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: histogram of orders-per-customer including the
    zero-order customers (LEFT OUTER preserves them; count(o_orderkey)
    ignores the nulls). Two shuffles: custkey then c_count — the
    second is over at most |distinct counts| rows."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


TPCH_Q13_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
    FROM customer
    LEFT OUTER JOIN orders ON c_custkey = o_custkey
                           AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# Q15 — top supplier (scalar-max subquery)
# ---------------------------------------------------------------------------


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: supplier(s) whose quarterly revenue equals the max
    quarterly revenue. The revenue relation is computed once and
    joined with its own global max (a 1-row broadcast) — Spark's
    equivalent of the CREATE VIEW + scalar subquery formulation.
    Revenue compared in DECIMAL (exact), cast to double only for
    output."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(disc_price()).alias("total_revenue_dec")
    )
    max_rev = revenue.agg(F.max("total_revenue_dec").alias("max_rev"))
    supplier = load(spark, sf_dir, "supplier")
    return (
        revenue.join(
            max_rev, F.col("total_revenue_dec") == F.col("max_rev")
        )
        .join(supplier, F.col("supplier_no") == supplier.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


TPCH_Q15_ORACLE = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no, SUM({SQL_DISC_PRICE}) AS total_revenue_dec
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue_dec AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue_dec = (SELECT MAX(total_revenue_dec) FROM revenue)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated per-part average)
# ---------------------------------------------------------------------------


def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue that would be lost by dropping small orders
    for one brand. The correlated `0.2 * avg(l_quantity) per part`
    becomes a per-part aggregate broadcast back onto the fact rows.
    The avg is sum(DECIMAL)/count cast through double identically on
    both engines; the < comparison is on that double."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    brand_li = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    per_part = brand_li.groupBy(F.col("p_partkey").alias("ak")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        brand_li.join(F.broadcast(per_part), F.col("p_partkey") == F.col("ak"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


TPCH_Q17_ORACLE = """
WITH brand_li AS (
    SELECT p_partkey, l_quantity, l_extendedprice
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#23'
),
per_part AS (
    SELECT p_partkey AS ak,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
    FROM brand_li GROUP BY p_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM brand_li JOIN per_part ON p_partkey = ak
WHERE l_quantity < 0.2 * avg_qty
"""


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (disjunctive join predicates)
# ---------------------------------------------------------------------------


def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: one equi-join on partkey with a three-way OR of
    (brand, size, quantity) bands layered as a post-join filter —
    Catalyst keeps the join hashable and evaluates the disjunction in
    the joined stage's codegen; the common p_size/quantity bounds are
    pushed into both scans."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(band).agg(F.sum(disc_price()).cast("double").alias("revenue"))


TPCH_Q19_ORACLE = f"""
SELECT CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (nested IN → semi-join chain)
# ---------------------------------------------------------------------------


def tpch_q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers who shipped a large volume (> 30 units in
    1997) of any 'red' part — the nested IN subqueries become an
    aggregate-then-semi-join: inner (part filter) broadcast into
    lineitem, grouped on (suppkey, partkey) with a HAVING, reduced to
    distinct suppkeys, then a left-semi join against supplier."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    red_parts = load(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    big_shippers = (
        li.join(F.broadcast(red_parts), li.l_partkey == red_parts.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > 30)
        .select("l_suppkey")
        .dropDuplicates(["l_suppkey"])
    )
    supplier = load(spark, sf_dir, "supplier")
    return (
        supplier.join(
            big_shippers, supplier.s_suppkey == big_shippers.l_suppkey, "left_semi"
        )
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


TPCH_Q20_ORACLE = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 30
)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------


def tpch_q21_sole_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (adapted: 'returned' = l_returnflag R stands in for
    late receipt): per supplier, count finalized orders where this
    supplier had a returned item, another supplier is also on the
    order (EXISTS), but no OTHER supplier had a returned item (NOT
    EXISTS).

    Both correlations are per order, so ONE aggregate at the order
    grain answers them in one lineitem pass (an (order, supplier)
    grain barely reduces lineitem, so its partial aggregation would
    save nothing and its two consumers read its exchange twice). Over
    the order's non-NULL suppliers, min/max of ``l_suppkey`` differ
    iff the order has two suppliers, and min/max of the returning
    ``l_suppkey`` agree iff exactly one supplier returned, which is
    then the blamed one. ``min``/``max`` skip NULLs, as the oracle's
    ``<>`` correlations never count a NULL supplier, and a NULL or
    non-R flag is not a return (tests/test_q21_semantics.py)."""
    li = load(spark, sf_dir, "lineitem")
    orders_f = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supplier = load(spark, sf_dir, "supplier")
    ret_sk = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    blamed = (
        li.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(
            F.min("l_suppkey").alias("lo"),
            F.max("l_suppkey").alias("hi"),
            F.min(ret_sk).alias("r_lo"),
            F.max(ret_sk).alias("r_hi"),
        )
        .filter((F.col("lo") != F.col("hi")) & (F.col("r_lo") == F.col("r_hi")))
        .select("ok", F.col("r_lo").alias("sk"))
    )
    return (
        blamed.join(orders_f, F.col("ok") == orders_f.o_orderkey, "left_semi")
        .join(supplier, F.col("sk") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


TPCH_Q21_ORACLE = """
WITH l1 AS (
    SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
    FROM lineitem WHERE l_returnflag = 'R'
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM l1
JOIN supplier ON sk = s_suppkey
WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey = ok AND o_orderstatus = 'F')
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = ok AND l2.l_suppkey <> sk)
  AND NOT EXISTS (SELECT 1 FROM l1 o
                  WHERE o.ok = l1.ok AND o.sk <> l1.sk)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (scalar avg + NOT EXISTS anti-join)
# ---------------------------------------------------------------------------


def tpch_q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape (adapted: market segment stands in for the phone
    country code): per segment, the count and balance-sum of
    above-average-balance customers who never placed an order. The
    scalar average is a 1-row broadcast cross join; NOT EXISTS is a
    left-anti join on custkey. The average divides exact DECIMAL sum
    by count (double), identical fold in the oracle.

    'Never placed an order' is scoped to the fixture's final year
    (>= 2000-07-01): every sf0.01 customer has some lifetime order, so
    the unscoped predicate returns an empty — vacuously matching —
    result; the recency scope keeps the anti-join load-bearing."""
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING", "MACHINERY")
    )
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-07-01")
    )
    return (
        customer.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


TPCH_Q22_ORACLE = """
WITH seg AS (
    SELECT * FROM customer
    WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
),
avg_bal AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
    FROM seg WHERE c_acctbal > 0
)
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM seg, avg_bal
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-07-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


SPECS: list[QuerySpec] = [
    QuerySpec("tpch_q2_min_cost_supplier", tpch_q2_min_cost_supplier, TPCH_Q2_ORACLE),
    QuerySpec("tpch_q4_order_priority", tpch_q4_order_priority, TPCH_Q4_ORACLE),
    QuerySpec("tpch_q7_volume_shipping", tpch_q7_volume_shipping, TPCH_Q7_ORACLE),
    QuerySpec("tpch_q8_market_share", tpch_q8_market_share, TPCH_Q8_ORACLE),
    QuerySpec("tpch_q9_product_profit", tpch_q9_product_profit, TPCH_Q9_ORACLE),
    QuerySpec("tpch_q13_customer_distribution", tpch_q13_customer_distribution, TPCH_Q13_ORACLE),
    QuerySpec("tpch_q15_top_supplier", tpch_q15_top_supplier, TPCH_Q15_ORACLE),
    QuerySpec("tpch_q17_small_qty_revenue", tpch_q17_small_qty_revenue, TPCH_Q17_ORACLE),
    QuerySpec("tpch_q19_disjunctive_revenue", tpch_q19_disjunctive_revenue, TPCH_Q19_ORACLE),
    QuerySpec("tpch_q20_promotion_suppliers", tpch_q20_promotion_suppliers, TPCH_Q20_ORACLE),
    QuerySpec("tpch_q21_sole_blame_supplier", tpch_q21_sole_blame_supplier, TPCH_Q21_ORACLE),
    QuerySpec("tpch_q22_sales_opportunity", tpch_q22_sales_opportunity, TPCH_Q22_ORACLE),
]
