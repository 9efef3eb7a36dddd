"""Flagship query: "candidate parts" — the reference's 6-step
candidate-drugs traversal re-expressed over the fixture star schema.

Reference spec (docstring at ``/root/reference/x2.2.py:238-247``,
identically ``/root/reference/x2.3.py:238-247``; comments
``/root/reference/candidate_drugs.py:75-82``):

    Step 1: MainDisease   = resolve(disease_name)
    Step 2: MainDrugs     = Drugs_for(MainDisease)
    Step 3: MainTargets   = Targets_for(MainDisease, score>=0.33)
    Step 4: OtherDiseases = Diseases_for(MainTargets) - MainDisease
    Step 5: OtherDrugs    = Drugs_for(OtherDiseases)
    Step 6: CandidateDrugs = OtherDrugs - MainDrugs

Fixture mapping (SURVEY.md §7.0): customer≈disease, part≈drug,
supplier≈target, orders+lineitem≈association edges. The seed
"disease" is a customer market segment; the scored disease→target
edge is the supplier's share of seed revenue (normalized to [0,1],
thresholded at the reference's 0.33 — ``candidate_drugs.py:108``).

Spark-first notes (SURVEY.md §3.1 step 6):

- each reference per-entity fetch loop (the N+1 join,
  ``opentargets_client_api.py:138-205``) is ONE equi-join against a
  snapshot edge table — Catalyst/AQE pick hash vs broadcast;
- the reference's set difference over id-sets
  (``candidate_drugs.py:150-158``) is a ``left_anti`` join;
- dedup-by-id (``pathways_query.py:29-37``) is ``dropDuplicates``
  on the id column — safe here because only the key set matters;
- revenue sums are computed in DECIMAL so partial-aggregation order
  (which Spark does NOT fix) cannot perturb the result — required
  for the DuckDB hash-match and for run-to-run determinism at scale.

At 100 TB: lineitem/orders are the big fact tables — all joins here
are equi-joins on their natural keys so they shuffle-hash-join with
AQE skew handling; `part` / supplier-score sides are small and
broadcast. No collects, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators._helpers import disc_price, lineitems_of

SEED_SEGMENT = "BUILDING"
# Seed resolution also thresholds on account balance so the seed is a
# *specific* entity set (the reference resolves one disease, not a
# whole class) — and so the candidate set stays non-empty even at
# sf0.001 where a whole segment would cover every part.
SEED_MIN_ACCTBAL = 6000.0
MIN_SCORE = 0.33


def candidate_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")

    # Step 1 — resolve the seed entity set (segment ≈ disease).
    seed_cust = customer.filter(
        (F.col("c_mktsegment") == SEED_SEGMENT) & (F.col("c_acctbal") >= SEED_MIN_ACCTBAL)
    ).select("c_custkey")

    # Seed edge scan (``lineitems_of``): the seed orders build and
    # lineitem streams. Exact for step 3's revenue sum as well as for
    # the DISTINCT consumers: c_custkey is customer's key.
    seed_li = lineitems_of(seed_cust, orders, lineitem).select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )

    # Step 2 — MainParts = parts the seed segment already orders.
    main_parts = seed_li.select("l_partkey").dropDuplicates(["l_partkey"])

    # Step 3 — MainSuppliers = scored edge + threshold. Score is the
    # supplier's seed-revenue share of the max seed revenue (∈ [0,1]).
    # The global max is a ONE-ROW aggregate broadcast back onto the
    # rows — not an empty-partition window, which would plan an
    # Exchange SinglePartition and funnel every row through one task.
    sup_rev = seed_li.groupBy("l_suppkey").agg(F.sum(disc_price()).alias("rev"))
    max_rev = sup_rev.agg(F.max(F.col("rev").cast("double")).alias("max_rev"))
    main_sups = (
        sup_rev.crossJoin(max_rev)
        .withColumn("score", F.col("rev").cast("double") / F.col("max_rev"))
        .filter(F.col("score") >= MIN_SCORE)
        .select("l_suppkey")
    )

    # Step 4 — OtherCustomers = customers reached from MainSuppliers,
    # minus the seed set (reverse hop + anti-membership —
    # opentargets_client_api.py:162,176).
    # Fresh scan aliases: step 4 re-scans the seed scan's edge tables
    # on the other side of a self-join, so qualify them explicitly.
    li4 = lineitem.alias("li4")
    o4 = orders.alias("o4")
    other_cust = (
        li4.join(F.broadcast(main_sups), "l_suppkey")
        .join(o4, F.col("li4.l_orderkey") == F.col("o4.o_orderkey"))
        .select(F.col("o4.o_custkey").alias("c_custkey"))
        .dropDuplicates(["c_custkey"])
        .join(seed_cust, "c_custkey", "left_anti")
    )

    # Step 5 — OtherParts = parts ordered by those other customers.
    other_parts = (
        lineitems_of(other_cust, orders, lineitem)
        .select("l_partkey")
        .dropDuplicates(["l_partkey"])
    )

    # Step 6 — CandidateParts = OtherParts − MainParts (set difference →
    # left_anti, candidate_drugs.py:158), re-enriched with the entity
    # name (candidate_drugs.py:159-164). The part side is pruned to
    # the 3 projected columns and left UNHINTED: AQE broadcasts it
    # while it's dimension-sized and switches to a shuffle join at the
    # SF where a forced broadcast would overwhelm executor memory.
    part_dim = part.select("p_partkey", "p_name", "p_retailprice")
    return (
        other_parts.join(main_parts, "l_partkey", "left_anti")
        .join(part_dim, F.col("l_partkey") == part_dim.p_partkey)
        .select("p_partkey", "p_name", "p_retailprice")
    )


CANDIDATE_PARTS_ORACLE = f"""
WITH seed_cust AS (
    SELECT c_custkey FROM customer
    WHERE c_mktsegment = '{SEED_SEGMENT}' AND c_acctbal >= {SEED_MIN_ACCTBAL}
),
seed_li AS (
    SELECT l.l_partkey, l.l_suppkey,
           CAST(l.l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l.l_discount AS DECIMAL(8,2)) AS rev
    FROM seed_cust sc
    JOIN orders o ON sc.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
main_parts AS (SELECT DISTINCT l_partkey FROM seed_li),
sup_rev AS (
    SELECT l_suppkey, SUM(rev) AS rev FROM seed_li GROUP BY l_suppkey
),
main_sups AS (
    SELECT l_suppkey
    FROM (SELECT l_suppkey,
                 CAST(rev AS DOUBLE) / MAX(CAST(rev AS DOUBLE)) OVER () AS score
          FROM sup_rev)
    WHERE score >= {MIN_SCORE}
),
other_cust AS (
    SELECT DISTINCT o.o_custkey
    FROM lineitem l
    JOIN main_sups ms ON l.l_suppkey = ms.l_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_custkey NOT IN (SELECT c_custkey FROM seed_cust)
),
other_parts AS (
    SELECT DISTINCT l.l_partkey
    FROM other_cust oc
    JOIN orders o ON oc.o_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT p.p_partkey, p.p_name, p.p_retailprice
FROM other_parts op
JOIN part p ON op.l_partkey = p.p_partkey
WHERE op.l_partkey NOT IN (SELECT l_partkey FROM main_parts)
"""
