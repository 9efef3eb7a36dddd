"""Core relational operators — SURVEY.md §2.1-2.7 inventory.

Each QuerySpec re-expresses one reference operator Spark-first over
the fixture star schema, with a DuckDB oracle twin. Docstrings cite
the reference implementation the semantics come from.

Scale posture common to all ops here:

- scans are plain parquet reads → Catalyst pushes filters/prunes
  columns into the scan (verified via ``.explain`` in tests);
- hops are equi-joins; small dims are broadcast explicitly, big-big
  joins are left to AQE (shuffle hash / sort-merge + skew split);
- no ``collect()`` inside any operator — everything stays
  distributed;
- order-dependent reference semantics (first-occurrence dedup,
  ``rows[0]``) get explicit deterministic orderings (SURVEY §1.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load
from ..spec import QuerySpec
from ._helpers import SQL_DISC_PRICE, disc_price, lineitems_of, workdir

# ---------------------------------------------------------------------------
# §2.1 Scans / sources / sinks
# ---------------------------------------------------------------------------


def src_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table scan with projection + predicate.

    The reference's scan is a templated GraphQL POST that names only
    the fields it needs (`/root/reference/opentargets_client_api.py:26-40`,
    `query_opentargets.py:4-16`); here the column list and the filter
    reach the parquet reader via Catalyst (ReadSchema/PushedFilters).
    """
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .filter(F.col("l_quantity") >= 45)
    )


SRC_PARQUET_SCAN_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem WHERE l_quantity >= 45
"""


def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip: persist a stage to CSV, re-read schema-on-read.

    Mirrors the reference's checkpoint format — `to_csv` sinks at
    `/root/reference/x2.2.py:361-405` and `load_from_csv` with
    inferred schema at `x2.2.py:229-235`. Writes header and no index
    column (the reference's index-column leak at x2.2.py:310-312 is a
    known bug we deliberately do NOT replicate, SURVEY §7.3 #4).
    """
    path = workdir(sf_dir, "src_csv")
    nation = load(spark, sf_dir, "nation")
    nation.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.csv(path, header=True, inferSchema=True)


SRC_CSV_ORACLE = "SELECT * FROM nation"


_N_CORRUPT_PLANTED = 5


def src_json_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant JSON ingestion: real feeds carry malformed rows,
    and at 100 TB a single bad record must neither kill the job
    (FAILFAST) nor vanish silently (DROPMALFORMED). PERMISSIVE mode
    with an explicit schema — no inference pass over the data, which
    at scale is a full extra scan — quarantines bad rows into the
    corrupt-record column. The op plants corrupt lines among a JSONL
    dump of nation, reads back tolerantly, and returns the surviving
    valid rows (oracle: the original table); the planted-corrupt
    count is asserted in tests/test_robustness.py."""
    path = workdir(sf_dir, "src_json_permissive")
    marker = os.path.join(path, "_PLANTED")
    if not os.path.exists(marker):
        load(spark, sf_dir, "nation").write.mode("overwrite").json(path)
        with open(os.path.join(path, "part-corrupt.json"), "w") as fh:
            for i in range(_N_CORRUPT_PLANTED):
                fh.write(f'{{"n_nationkey": broken-{i}\n')
        with open(marker, "w") as fh:
            fh.write("ok")
    schema = (
        "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, _corrupt STRING"
    )
    raw = spark.read.schema(schema).option(
        "columnNameOfCorruptRecord", "_corrupt"
    ).option("mode", "PERMISSIVE").json(path)
    return raw.filter(F.col("_corrupt").isNull()).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


SRC_JSON_PERMISSIVE_ORACLE = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def src_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-scoped free-text search over the entity union.

    The reference's `search(queryString, entityNames)` resolves free
    text against the Disease|Drug|Target union
    (`/root/reference/opentargets_query.py:4-28`,
    `opentargets_client_api.py:7-16,106-118`;
    `union EntityUnionType` at `opentargets.schema:502`).
    Fixture analog: union customer/supplier/part as (entity,id,name),
    filter `contains`, scope by entity type.
    """
    customer = load(spark, sf_dir, "customer").select(
        F.lit("customer").alias("entity"),
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
    )
    supplier = load(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("entity"),
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
    )
    part = load(spark, sf_dir, "part").select(
        F.lit("part").alias("entity"),
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("name"),
    )
    union = customer.unionByName(supplier).unionByName(part)
    return union.filter(
        F.lower(F.col("name")).contains("red") & F.col("entity").isin("part", "supplier")
    )


SRC_SEARCH_ORACLE = """
SELECT * FROM (
    SELECT 'customer' AS entity, c_custkey AS id, c_name AS name FROM customer
    UNION ALL
    SELECT 'supplier', s_suppkey, s_name FROM supplier
    UNION ALL
    SELECT 'part', p_partkey, p_name FROM part
)
WHERE contains(lower(name), 'red') AND entity IN ('part', 'supplier')
"""


def param_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized query: bind a parameter into a query template.

    The reference templates GraphQL strings and substitutes ids
    (`query.replace("TARGET_ID", target_id)` —
    `/root/reference/pathways_query.py:21`, `candidate_drugs.py:86`).
    Spark-first: named parameter markers via ``spark.sql(sql, args=...)``
    — injection-safe and plan-cache-friendly, unlike string splicing.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderstatus = :status AND o_totalprice >= :min_total
        """,
        args={"status": "F", "min_total": 200000.0},
    )


PARAM_BIND_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 200000.0
"""

# ---------------------------------------------------------------------------
# §2.2 Projections
# ---------------------------------------------------------------------------


def proj_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested JSON → flat typed columns, renaming on the way.

    The reference projects nested GraphQL JSON rows into flat dicts
    (`{'id','symbol','score'}` — `/root/reference/candidate_drugs.py:100-106`,
    `opentargets_client_api.py:144-154`). Spark-first: ``from_json``
    with an explicit schema, then dot-path select with aliases —
    null-safe by construction (SURVEY §1.4).
    """
    events = load(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    return events.select(
        "event_id",
        F.from_json("props", schema).alias("p"),
        "event_type",
    ).select(
        F.col("event_id").alias("id"),
        F.col("p.k").alias("k"),
        F.col("event_type").alias("kind"),
    )


PROJ_FLATTEN_ORACLE = """
SELECT event_id AS id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       event_type AS kind
FROM events
"""


def proj_rename_addcol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk rename + provenance columns + drop.

    Mirrors the post-merge renames at `/root/reference/x2.3.py:281-289`
    (`id_x`→`main_target_id` …), the provenance annotation
    (`disease_id`/`disease_name` carried through hops —
    `x2.2.py:289-292`, `opentargets_client_api.py:149-154`) and
    `proj_drop` (`x2.3.py:278-279`).
    """
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .withColumnRenamed("c_custkey", "entity_id")
        .withColumnRenamed("c_name", "entity_name")
        .withColumnRenamed("n_name", "nation_name")
        .withColumn("provenance", F.lit("customer_hop"))
        .select("entity_id", "entity_name", "nation_name", "provenance")
    )


PROJ_RENAME_ADDCOL_ORACLE = """
SELECT c_custkey AS entity_id, c_name AS entity_name, n_name AS nation_name,
       'customer_hop' AS provenance
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


def proj_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-hoc JSON path navigation (`data.get(...).get(...)` chains —
    `/root/reference/pathways_query.py:32`, `candidate_drugs.py:89`,
    `chembl_to_smile.py:29`) via ``get_json_object``."""
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.missing").alias("missing"),
    )


PROJ_JSON_PATH_ORACLE = """
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       json_extract_string(props, '$.missing') AS missing
FROM events
"""

# ---------------------------------------------------------------------------
# §2.3 Filters / predicates
# ---------------------------------------------------------------------------


def filter_score_ge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scored-edge threshold — THE reference predicate: keep
    associations with score >= min_score (default 0.33,
    `/root/reference/candidate_drugs.py:108-109`,
    `opentargets_client_api.py:147,171-173`). Fixture analog:
    lineitem (association edge) thresholded on l_discount."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") >= 0.05)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_discount")
    )


FILTER_SCORE_GE_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_discount
FROM lineitem WHERE l_discount >= 0.05
"""


def filter_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exclusion list: remove given ids (`remove_diseases` —
    `/root/reference/x2.2.py:214-227`, used at `:346-356` with a
    hard-coded 5-id exclusion list). Small literal list → `isin`;
    a large exclusion table would be a `left_anti` join instead."""
    excluded = [1, 3, 5, 7, 9]
    return load(spark, sf_dir, "nation").filter(~F.col("n_nationkey").isin(excluded))


FILTER_NOT_IN_ORACLE = """
SELECT * FROM nation WHERE n_nationkey NOT IN (1, 3, 5, 7, 9)
"""


def filter_exclude_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-membership vs the originating entity set: when hopping
    back from targets to diseases, drop the seed disease itself
    (`/root/reference/opentargets_client_api.py:162,176`,
    `x2.py:182`). Fixture analog: customers co-located (same nation)
    with the seed segment, minus the seed customers — `left_anti`."""
    customer = load(spark, sf_dir, "customer")
    seed = customer.filter(F.col("c_mktsegment") == "MACHINERY")
    seed_nations = seed.select("c_nationkey").dropDuplicates(["c_nationkey"])
    return (
        customer.join(F.broadcast(seed_nations), "c_nationkey")
        .join(seed.select("c_custkey"), "c_custkey", "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
    )


FILTER_EXCLUDE_SEED_ORACLE = """
SELECT c_custkey, c_name, c_nationkey
FROM customer
WHERE c_nationkey IN (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY')
  AND c_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
"""


def filter_null_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Defensive null predicates on response shape
    (`'data' in data and data['data']['disease']` —
    `/root/reference/candidate_drugs.py:99,125,143`,
    `opentargets_client_api.py:143,169,198,221,280`).
    Spark-first: compute the possibly-missing projection, then
    `isNotNull` / `na.drop` instead of try/except per row."""
    events = load(spark, sf_dir, "events")
    guarded = events.select(
        "event_id",
        "event_type",
        F.when(F.col("value") >= 1.0, F.col("value")).alias("checked_value"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    return guarded.na.drop(subset=["checked_value", "k"])


FILTER_NULL_GUARD_ORACLE = """
SELECT * FROM (
    SELECT event_id, event_type,
           CASE WHEN value >= 1.0 THEN value END AS checked_value,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
)
WHERE checked_value IS NOT NULL AND k IS NOT NULL
"""


def limit_first_hit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Take the top hit of a resolution scan (`hits[0]` —
    `/root/reference/candidate_drugs.py:90`, `x2.py:116`).
    The reference leans on the API's score-desc default ordering
    (`opentargets.schema:262-268`); Spark must make that ordering
    explicit, with a unique tiebreaker (SURVEY §1.4 trap)."""
    return (
        load(spark, sf_dir, "customer")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(1)
        .select("c_custkey", "c_name", "c_acctbal")
    )


LIMIT_FIRST_HIT_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 1
"""

# ---------------------------------------------------------------------------
# §2.4 Deduplication
# ---------------------------------------------------------------------------


def dedup_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first-occurrence-per-id — the reference's most pervasive
    operator (`if id in seen: continue` —
    `/root/reference/pathways_query.py:29-37`,
    `opentargets_client_api.py:112-118` and six more sites).

    Spark's `dropDuplicates` is nondeterministic about WHICH row
    survives, so the order-faithful translation is a `row_number()`
    over an explicit arrival order (SURVEY §1.4). The synthetic
    lineitem is NOT (l_orderkey, l_linenumber)-unique (4-8 colliding
    groups with DIFFERENT l_quantity exist in every driver fixture;
    70k+ on the skew fixtures), so the output value column itself is
    the final tiebreaker — whichever of the remaining ties wins, the
    emitted row is identical, which is the property the hash compare
    actually needs.
    """
    w = Window.partitionBy("l_partkey").orderBy(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


DEDUP_BY_ID_ORACLE = """
SELECT l_partkey, l_orderkey, l_linenumber, l_quantity
FROM lineitem
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber, l_quantity) = 1
"""


def dedup_memoize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup BEFORE the next fetch: skip already-seen drugs to avoid
    duplicate downstream scans (`/root/reference/
    opentargets_client_api.py:224-228`, `x2.py:205-208`).
    Spark-first: `dropDuplicates` upstream of the join — the same
    semi-join reduction Catalyst's distinct-before-join rewrite does.
    """
    seen_parts = (
        load(spark, sf_dir, "lineitem").select("l_partkey").dropDuplicates(["l_partkey"])
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    return seen_parts.join(part, seen_parts.l_partkey == part.p_partkey).select(
        "p_partkey", "p_name", "p_size"
    )


DEDUP_MEMOIZE_ORACLE = """
SELECT p_partkey, p_name, p_size
FROM (SELECT DISTINCT l_partkey FROM lineitem) s
JOIN part ON s.l_partkey = p_partkey
WHERE p_size >= 25
"""

# ---------------------------------------------------------------------------
# §2.5 Joins
# ---------------------------------------------------------------------------


def join_inner_same_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas `merge(..., on='id')` analog (`/root/reference/x2.2.py:334`):
    two derived per-supplier aggregates inner-joined on the shared key."""
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")

    def seg_rev(segment: str, alias: str) -> DataFrame:
        seed = customer.filter(F.col("c_mktsegment") == segment)
        return (
            lineitems_of(seed, orders, lineitem)
            .groupBy("l_suppkey")
            .agg(F.sum(disc_price()).cast("double").alias(alias))
        )

    a = seg_rev("BUILDING", "rev_building")
    b = seg_rev("MACHINERY", "rev_machinery")
    return a.join(b, "l_suppkey")


JOIN_INNER_SAME_KEY_ORACLE = f"""
WITH seg AS (
    SELECT c_mktsegment AS seg, l_suppkey,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS rev
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    GROUP BY 1, 2
)
SELECT a.l_suppkey, a.rev AS rev_building, b.rev AS rev_machinery
FROM (SELECT * FROM seg WHERE seg = 'BUILDING') a
JOIN (SELECT * FROM seg WHERE seg = 'MACHINERY') b USING (l_suppkey)
"""


def join_inner_diff_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`merge(left_on='id', right_on='target_id')` + renames
    (`/root/reference/x2.3.py:276-289`): equi-join on differently
    named keys, then bulk rename."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("o_totalprice").alias("total"),
        )
    )


JOIN_INNER_DIFF_KEYS_ORACLE = """
SELECT o_orderkey AS order_id, c_custkey AS customer_id,
       c_name AS customer_name, o_totalprice AS total
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def join_lookup_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's id→name enrichment is a nested-loop linear scan,
    first match wins (`/root/reference/candidate_drugs.py:159-164`,
    `x2.py:230-237`). Spark-first: broadcast hash join against the
    dimension — O(n) with a shared hashmap instead of O(n·m)."""
    ids = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") >= 0.09)
        .select("l_partkey")
        .dropDuplicates(["l_partkey"])
    )
    part = load(spark, sf_dir, "part")
    return ids.join(F.broadcast(part), ids.l_partkey == part.p_partkey, "left").select(
        "l_partkey", "p_name", "p_retailprice"
    )


JOIN_LOOKUP_BROADCAST_ORACLE = """
SELECT l_partkey, p_name, p_retailprice
FROM (SELECT DISTINCT l_partkey FROM lineitem WHERE l_discount >= 0.09) ids
LEFT JOIN part ON ids.l_partkey = p_partkey
"""


def join_api_foreach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's N+1 pattern: for each left row, fetch matching
    right rows over HTTP (`/root/reference/opentargets_client_api.py:138-205`,
    per-disease loop `x2.2.py:285-301`). Spark-first: ONE equi-join
    against the snapshot edge table; provenance columns replace the
    Python closure that tagged each fetched row (SURVEY §2.2
    proj_addcol). Catalyst/AQE pick the physical join."""
    seed = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "AUTOMOBILE")
    orders = load(spark, sf_dir, "orders")
    return seed.join(orders, seed.c_custkey == orders.o_custkey).select(
        F.col("c_custkey").alias("disease_id"),
        F.col("c_name").alias("disease_name"),
        F.col("o_orderkey").alias("edge_id"),
        F.col("o_totalprice").alias("edge_weight"),
    )


JOIN_API_FOREACH_ORACLE = """
SELECT c_custkey AS disease_id, c_name AS disease_name,
       o_orderkey AS edge_id, o_totalprice AS edge_weight
FROM customer JOIN orders ON c_custkey = o_custkey
WHERE c_mktsegment = 'AUTOMOBILE'
"""


def join_multi_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed traversal disease→target→disease→drug
    (`/root/reference/x2.2.py:344-406`, `candidate_drugs.py:84-158`):
    chained equi-joins with per-hop dedup. Fixture analog:
    customer→orders→lineitem→supplier, distinct (customer, supplier)
    pairs enriched with the supplier name. The customer hop is a
    membership test (``o_custkey`` is the customer key), so it goes
    through ``lineitems_of``."""
    customer = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "FURNITURE")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    return (
        lineitems_of(customer, orders, lineitem)
        .select(F.col("o_custkey").alias("c_custkey"), "l_suppkey")
        .dropDuplicates(["c_custkey", "l_suppkey"])
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("c_custkey", "l_suppkey", "s_name")
    )


JOIN_MULTI_HOP_ORACLE = """
SELECT DISTINCT c_custkey, l_suppkey, s_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE c_mktsegment = 'FURNITURE'
"""

# ---------------------------------------------------------------------------
# §2.6 Set operations
# ---------------------------------------------------------------------------


def _parts_of_segment(spark: SparkSession, sf_dir: str, segment: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == segment)
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitems_of(customer, orders, lineitem)
        .select("l_partkey")
        .dropDuplicates(["l_partkey"])
    )


_PARTS_OF_SEGMENT_SQL = """
SELECT DISTINCT l_partkey FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = '{seg}'
"""


def set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate generation by set difference — `OtherDrugs − MainDrugs`
    (`/root/reference/candidate_drugs.py:151-158` `D_T_D - D_D`;
    `x2.2.py:402`). On key columns `subtract` ≡ `left_anti`; we use
    `subtract` to mirror the set-algebra shape."""
    a = _parts_of_segment(spark, sf_dir, "HOUSEHOLD")
    b = _parts_of_segment(spark, sf_dir, "BUILDING")
    return a.subtract(b)


SET_DIFFERENCE_ORACLE = (
    _PARTS_OF_SEGMENT_SQL.format(seg="HOUSEHOLD")
    + " EXCEPT "
    + _PARTS_OF_SEGMENT_SQL.format(seg="BUILDING")
)


def set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set overlap (`related-disease targets ∩ candidate-drug targets` —
    `/root/reference/x2.2.py:330`)."""
    a = _parts_of_segment(spark, sf_dir, "HOUSEHOLD")
    b = _parts_of_segment(spark, sf_dir, "BUILDING")
    return a.intersect(b)


SET_INTERSECTION_ORACLE = (
    _PARTS_OF_SEGMENT_SQL.format(seg="HOUSEHOLD")
    + " INTERSECT "
    + _PARTS_OF_SEGMENT_SQL.format(seg="BUILDING")
)


def set_union_accumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulate per-hop results into a global deduped collection
    (`extend` + `set.update` in every reference loop —
    `/root/reference/x2.2.py:294-295,319-320`). Spark-first:
    `unionByName` of the per-hop DataFrames + one `dropDuplicates` —
    the loop disappears into the plan."""
    hop1 = _parts_of_segment(spark, sf_dir, "HOUSEHOLD")
    hop2 = _parts_of_segment(spark, sf_dir, "AUTOMOBILE")
    hop3 = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_size") >= 45)
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    return hop1.unionByName(hop2).unionByName(hop3).dropDuplicates(["l_partkey"])


SET_UNION_ACCUMULATE_ORACLE = (
    _PARTS_OF_SEGMENT_SQL.format(seg="HOUSEHOLD")
    + " UNION "
    + _PARTS_OF_SEGMENT_SQL.format(seg="AUTOMOBILE")
    + " UNION SELECT p_partkey AS l_partkey FROM part WHERE p_size >= 45"
)


def set_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`in`-set predicate (`/root/reference/x2.py:131-133,182,206`):
    literal id list → `isin` (a large set would be `left_semi`)."""
    wanted = [2, 4, 8, 16, 32, 64]
    return load(spark, sf_dir, "customer").filter(F.col("c_custkey").isin(wanted)).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


SET_MEMBERSHIP_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer WHERE c_custkey IN (2, 4, 8, 16, 32, 64)
"""

# ---------------------------------------------------------------------------
# §2.7 Aggregations
# ---------------------------------------------------------------------------


def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage cardinality report (`len(set)` —
    `/root/reference/x2.py:137,155,190,223,229`). Per-group distinct
    counts; at 100 TB swap in `approx_count_distinct` (HLL) where
    exactness isn't needed."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


AGG_COUNT_DISTINCT_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer GROUP BY c_mktsegment
"""


def agg_group_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full numeric-aggregate surface (TPC-H Q1 shape). The reference
    computes no numeric aggregates beyond counts (SURVEY §2.7) — the
    engine exposes Spark's whole agg surface. DECIMAL sums keep the
    unordered partial aggregation deterministic; map-side partial
    aggregation makes this a single shuffle of tiny partials."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price()).cast("double").alias("sum_disc_price"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


AGG_GROUP_SUMS_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals over the ontology-ish dims
    (region→nation), via `rollup` — part of the agg surface the
    engine adds beyond the reference (SURVEY §2.7 'absent' row)."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).join(region, nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_acctbal"),
    )


AGG_ROLLUP_ORACLE = """
SELECT r_name, n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-subsets subtotals via `cube` over order status/priority."""
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_total"),
        )
    )


AGG_CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

# ---------------------------------------------------------------------------
# §2.8 Sort / top-k
# ---------------------------------------------------------------------------


def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ordering + limit. The reference delegated ordering to
    the API (score-desc default, `opentargets.schema:262-268`) and
    took `hits[0]`; Spark compiles orderBy+limit to
    TakeOrderedAndProject (no full sort, no single-node shuffle)."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(5)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


SORT_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5
"""


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (`rows[0]` per entity — `/root/reference/x2.py:215`,
    `x2.3.py:201`, generalized to k=3): `row_number()` over an
    explicit (score desc, unique id) ordering — the deterministic
    form of the reference's positional pick (SURVEY §1.4)."""
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        load(spark, sf_dir, "customer")
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_name", "c_acctbal", "rn")
    )


TOPK_PER_GROUP_ORACLE = """
SELECT c_nationkey, c_custkey, c_name, c_acctbal,
       CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rn
FROM customer
QUALIFY rn <= 3
"""


SPECS = [
    QuerySpec("src_parquet_scan", src_parquet_scan, SRC_PARQUET_SCAN_ORACLE),
    QuerySpec("src_csv", src_csv, SRC_CSV_ORACLE),
    QuerySpec(
        "src_json_permissive",
        src_json_permissive,
        SRC_JSON_PERMISSIVE_ORACLE,
    ),
    QuerySpec("src_search", src_search, SRC_SEARCH_ORACLE),
    QuerySpec("param_bind", param_bind, PARAM_BIND_ORACLE),
    QuerySpec("proj_flatten", proj_flatten, PROJ_FLATTEN_ORACLE),
    QuerySpec("proj_rename_addcol", proj_rename_addcol, PROJ_RENAME_ADDCOL_ORACLE),
    QuerySpec("proj_json_path", proj_json_path, PROJ_JSON_PATH_ORACLE),
    QuerySpec("filter_score_ge", filter_score_ge, FILTER_SCORE_GE_ORACLE),
    QuerySpec("filter_not_in", filter_not_in, FILTER_NOT_IN_ORACLE),
    QuerySpec("filter_exclude_seed", filter_exclude_seed, FILTER_EXCLUDE_SEED_ORACLE),
    QuerySpec("filter_null_guard", filter_null_guard, FILTER_NULL_GUARD_ORACLE),
    QuerySpec("limit_first_hit", limit_first_hit, LIMIT_FIRST_HIT_ORACLE),
    QuerySpec("dedup_by_id", dedup_by_id, DEDUP_BY_ID_ORACLE),
    QuerySpec("dedup_memoize", dedup_memoize, DEDUP_MEMOIZE_ORACLE),
    QuerySpec("join_merge_inner_same_key", join_inner_same_key, JOIN_INNER_SAME_KEY_ORACLE),
    QuerySpec("join_merge_inner_diff_keys", join_inner_diff_keys, JOIN_INNER_DIFF_KEYS_ORACLE),
    QuerySpec("join_lookup_nested_loop", join_lookup_broadcast, JOIN_LOOKUP_BROADCAST_ORACLE),
    QuerySpec("join_api_foreach", join_api_foreach, JOIN_API_FOREACH_ORACLE),
    QuerySpec("join_multi_hop", join_multi_hop, JOIN_MULTI_HOP_ORACLE),
    QuerySpec("set_difference", set_difference, SET_DIFFERENCE_ORACLE),
    QuerySpec("set_intersection", set_intersection, SET_INTERSECTION_ORACLE),
    QuerySpec("set_union_accumulate", set_union_accumulate, SET_UNION_ACCUMULATE_ORACLE),
    QuerySpec("set_membership", set_membership, SET_MEMBERSHIP_ORACLE),
    QuerySpec("agg_count_distinct", agg_count_distinct, AGG_COUNT_DISTINCT_ORACLE),
    QuerySpec("agg_group_sums", agg_group_sums, AGG_GROUP_SUMS_ORACLE),
    QuerySpec("agg_rollup", agg_rollup, AGG_ROLLUP_ORACLE),
    QuerySpec("agg_cube", agg_cube, AGG_CUBE_ORACLE),
    QuerySpec("sort_topk", sort_topk, SORT_TOPK_ORACLE),
    QuerySpec("topk_per_group", topk_per_group, TOPK_PER_GROUP_ORACLE),
]


def param_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized IDENTIFIERS (`IDENTIFIER(:name)`, Spark 3.4+/4.x)
    — the injection-safe form of the reference's templated QUERY
    SELECTION (`/root/reference/x2.2.py:189-206` picks which query
    file to load by name): table AND column references bind as typed
    parameters, so dynamic dispatch over datasets/columns never
    string-splices SQL. Aggregates supplier balances per nation with
    both the table and the grouping column supplied as parameters."""
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    view = f"param_ident_supplier_{sf_tag}"
    load(spark, sf_dir, "supplier").createOrReplaceTempView(view)
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp) AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp)
        """,
        args={"tbl": view, "grp": "s_nationkey"},
    )


PARAM_IDENTIFIER_ORACLE = """
SELECT s_nationkey AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
FROM supplier GROUP BY s_nationkey
"""

SPECS.append(
    QuerySpec(
        "param_identifier",
        param_identifier,
        PARAM_IDENTIFIER_ORACLE,
    )
)
