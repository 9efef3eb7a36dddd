"""Storage-layout operators — the write-side levers that decide read
performance at 100 TB (SURVEY §7.2 phase 5 'scale posture').

- Partitioned parquet: directory-partition by a low-cardinality
  column so selective reads prune whole partitions (PartitionFilters
  in the scan — asserted in tests/test_scale_posture.py).
- Bucketed tables (``write_bucketed``): pre-shuffle both sides of a
  recurring join into the same bucket layout so the join runs with
  NO exchange at read time — the biggest single win for repeated
  fact-fact joins. Registered as ``join_bucketed``: the tables are
  EXTERNAL (explicit ``option("path")`` into the engine's scratch
  dir), so nothing touches the session-static warehouse location the
  harness driver owns, and the in-memory catalog needs no metastore.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import scoped_confs
from ..spec import QuerySpec
from ._helpers import h32, workdir


def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by o_orderstatus, read back one
    partition. The returned plan's scan carries PartitionFilters —
    only the F/ directory is read, the rest pruned before IO.
    (Partition column type note: directory values round-trip as
    strings; o_orderstatus already is one.)"""
    path = workdir(sf_dir, "sink_parquet_partitioned")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        load(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(path)
    out = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return out.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")


SINK_PARQUET_PARTITIONED_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
FROM orders WHERE o_orderstatus = 'F'
"""


def write_bucketed(spark: SparkSession, sf_dir: str, n_buckets: int = 8) -> tuple[str, str]:
    """Bucket lineitem and orders on the join key (saveAsTable with
    bucketBy+sortBy). Subsequent joins of the two tables on
    l_orderkey = o_orderkey need no Exchange on either side — the
    shuffle was paid once at write time. Returns the table names."""
    import shutil  # noqa: PLC0415

    # scale-factor-scoped names: the driver runs the same session at
    # several sf_dirs (smoke sf0.001, correctness sf0.01) — unscoped
    # names would silently reuse the first scale's buckets
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    li_tbl, o_tbl = f"lineitem_bucketed_{sf_tag}", f"orders_bucketed_{sf_tag}"
    for tbl, name, key in ((li_tbl, "lineitem", "l_orderkey"), (o_tbl, "orders", "o_orderkey")):
        if spark.catalog.tableExists(tbl):
            continue
        loc = os.path.join(workdir(sf_dir, "bucketed"), tbl)
        marker = os.path.join(loc, "_BUCKETS_OK")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        if os.path.exists(marker):
            # the in-memory catalog dies with each session but the
            # bucket FILES don't: re-attach them with a DDL whose
            # bucket spec matches the writer's (bucket ids live in the
            # file names, so the layout survives re-registration) —
            # skips the rewrite shuffle every fresh session would
            # otherwise pay
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in load(spark, sf_dir, name).schema.fields
            )
            spark.sql(
                f"CREATE TABLE {tbl} ({cols}) USING PARQUET "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
            )
            continue
        # external table in our scratch dir: survives neither-here-nor-
        # there state (catalog empty but location left from a previous
        # session) by clearing the location first
        shutil.rmtree(loc, ignore_errors=True)
        (
            load(spark, sf_dir, name)
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", loc)
            .mode("overwrite")
            .saveAsTable(tbl)
        )
        with open(marker, "w") as fh:
            fh.write("ok")
    return li_tbl, o_tbl


def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join over the bucketed tables: both sides
    are bucketed+sorted on the orderkey, so the physical plan is a
    SortMergeJoin with NO Exchange on either side (asserted in
    tests/test_scale_posture.py) — at 100 TB this is the recurring
    orders x lineitem join with the shuffle paid once at layout time.
    Results are layout-independent; the oracle is the plain join."""
    li_tbl, o_tbl = write_bucketed(spark, sf_dir)
    li = spark.table(li_tbl)
    o = spark.table(o_tbl)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


JOIN_BUCKETED_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job that keeps a 100 TB
    table scannable. Streaming/micro-batch ingest leaves thousands of
    KB-sized parquet files; scans then pay per-file open cost and the
    driver pays per-file listing/planning cost. This op materializes a
    deliberately fragmented copy of lineitem (64 files), bin-packs it
    to a few scan-sized files (one shuffle-free coalesce), and returns
    a content checksum per return flag proving the rewrite lost
    nothing — the oracle computes the same checksum from the original
    table. File-count reduction is asserted in
    tests/test_scale_posture.py."""
    frag = os.path.join(workdir(sf_dir, "compact"), "fragmented")
    compacted = os.path.join(workdir(sf_dir, "compact"), "compacted")
    if not os.path.exists(os.path.join(frag, "_SUCCESS")):
        load(spark, sf_dir, "lineitem").repartition(64).write.mode("overwrite").parquet(frag)
    if not os.path.exists(os.path.join(compacted, "_SUCCESS")):
        spark.read.parquet(frag).coalesce(2).write.mode("overwrite").parquet(compacted)
    return (
        spark.read.parquet(compacted)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_checksum"),
        )
        .orderBy("l_returnflag")
    )


SINK_COMPACT_SMALL_FILES_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_checksum
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def sink_clustered_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered layout: repartitionByRange + sortWithinPartitions
    on l_shipdate before writing, so every parquet file (and every
    row group inside it) covers a narrow, near-disjoint shipdate
    band. A selective date predicate then skips whole files on footer
    min/max stats — at 100 TB this is the difference between reading
    one band and scanning the table. The range exchange samples the
    key to build balanced bounds, so skew in the cluster key spreads
    evenly. Disjointness of the produced file footers is asserted in
    tests/test_scale_posture.py; the audit query reads one month back
    through the clustered copy (oracle = same filter on the original)."""
    path = os.path.join(workdir(sf_dir, "clustered"), "by_shipdate")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            load(spark, sf_dir, "lineitem")
            .repartitionByRange(8, "l_shipdate")
            .sortWithinPartitions("l_shipdate")
            .write.mode("overwrite")
            .parquet(path)
        )
    return (
        spark.read.parquet(path)
        .filter(
            (F.col("l_shipdate") >= "1995-06-01") & (F.col("l_shipdate") < "1995-07-01")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_checksum"),
        )
        .orderBy("l_returnflag")
    )


SINK_CLUSTERED_WRITE_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_checksum
FROM lineitem
WHERE l_shipdate >= DATE '1995-06-01' AND l_shipdate < DATE '1995-07-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


SPECS = [
    QuerySpec(
        "sink_parquet_partitioned",
        sink_parquet_partitioned,
        SINK_PARQUET_PARTITIONED_ORACLE,
    ),
    QuerySpec(
        "sink_compact_small_files",
        sink_compact_small_files,
        SINK_COMPACT_SMALL_FILES_ORACLE,
    ),
    QuerySpec(
        "sink_clustered_write",
        sink_clustered_write,
        SINK_CLUSTERED_WRITE_ORACLE,
    ),
    QuerySpec(
        "join_bucketed",
        join_bucketed,
        JOIN_BUCKETED_ORACLE,
    ),
]


def join_salted(spark: SparkSession, sf_dir: str, n_salts: int = 8) -> DataFrame:
    """Skew-mitigated join: salt the skewed (fact) side's key with a
    deterministic shard id and explode the dimension side across all
    shards, so one hot key spreads over ``n_salts`` reducers instead
    of one straggler. Results are identical to the plain join (the
    oracle IS the plain join). AQE's skew-join split handles the
    sort-merge case automatically; explicit salting remains the tool
    for skewed aggregations and for engines/joins AQE can't split.
    The salt is pmod(hash(tiebreaker), n) — deterministic per row.
    """
    li = load(spark, sf_dir, "lineitem").withColumn(
        "salt",
        F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(n_salts)),
    )
    part = load(spark, sf_dir, "part").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return (
        li.join(part, (li.l_partkey == part.p_partkey) & (li.salt == part.salt))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


JOIN_SALTED_ORACLE = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""

SPECS.append(
    QuerySpec(
        "join_salted",
        join_salted,
        JOIN_SALTED_ORACLE,
    )
)


# --- skew demonstration pair (bench-scale, VERDICT r1 item 8) ----------
#
# The fixtures are uniform, so the hot key is SYNTHESIZED: every user
# not divisible by 100 collapses onto key 0 (~99% of rows), and the
# fact side is deterministically replicated ×SKEW_REPL so the hot
# partition is straggler-sized at sf0.1. The join strategy is
# PLAN-EMBEDDED (hint("shuffle_hash") on the dim side) so the contrast
# survives any session's broadcast confs — a conf sandbox around the
# BUILD would be useless, since Spark physical-plans lazily at action
# time. Transparency note: AQE's skew-join split DOES auto-rescue
# skewed shuffle joins when its 256MB threshold trips; salting is the
# explicit tool for skewed AGGREGATION groups and WINDOW partitions
# (which AQE cannot split) and for engines without AQE. bench.py runs
# this pair with skew-split disabled and a scaled-down AQE advisory
# size to emulate those conditions at fixture scale.

SKEW_REPL = 100
SKEW_SALTS = 32


def _skew_key_expr() -> Column:
    """The synthesized hot key: every user not divisible by 100
    collapses onto key 0. ONE definition shared by the fact and the
    dim (ADVICE r10): `_skew_dim`'s correctness proof — "the distinct
    key set off the raw scan equals the distinct key set of the
    exploded fact" — requires both sides to synthesize the key
    identically, so the expression must not be restated."""
    return (
        F.when(F.col("user_id") % 100 == 0, F.col("user_id"))
        .otherwise(F.lit(0))
        .alias("skew_key")
    )


def _skew_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The fixture ships events as ONE small file = one input split; a
    # 100 TB fact arrives as thousands of splits. Spread the scan so
    # the map side isn't an artifact single task.
    ev = load(spark, sf_dir, "events").repartition(32, "event_id")
    return ev.select(
        _skew_key_expr(),
        "event_id",
        (F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.explode(F.sequence(F.lit(0), F.lit(SKEW_REPL - 1))).alias("rep"),
    )


def _skew_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DISTINCT skew_key straight off the events scan (optimization
    # r10, guide §2.3 "don't compute things you throw away"): the
    # previous derivation went through _skew_fact, so the ×SKEW_REPL
    # explode ran a second time — 100 generated rows per event fed
    # into a distinct whose result doesn't depend on rep at all. The
    # key SET is identical (rep never affects skew_key), the oracle's
    # "SELECT DISTINCT skew_key FROM fact" unchanged.
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(_skew_key_expr())
        .distinct()
        .withColumn("bucket", (F.col("skew_key") % 10).cast("int"))
    )


def _skew_agg(joined: DataFrame) -> DataFrame:
    # Post-join enrichment (references the dim's bucket column, so it
    # cannot be pushed below the join): this is the per-row reduce-side
    # work that a hot key concentrates onto one straggler task.
    payload = F.conv(
        F.substring(
            F.md5(F.concat_ws("_", F.col("event_id"), F.col("rep"), F.col("bucket"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return joined.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("cents") + F.col("rep")).alias("total_cents"),
        F.sum(payload).alias("payload_sum"),
    )


def join_skew_unsalted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline half of the skew pair: shuffle-hash join straight on
    the synthesized 99%-hot key — the hot reducer drags ~all fact
    rows through the probe + post-join enrichment while its 31
    siblings idle (compare wall-clock with ``join_skew_salted`` in
    BENCH). The hint pins the shuffle strategy into the plan so the
    contrast is session-independent; results are strategy-independent
    (the oracle is the plain join)."""
    fact = _skew_fact(spark, sf_dir)
    dim = _skew_dim(spark, sf_dir).hint("shuffle_hash")
    return _skew_agg(fact.join(dim, "skew_key"))


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted half of the skew pair: the fact key gains a
    deterministic pmod(hash) shard, the dim explodes ×SKEW_SALTS, so
    the hot key's rows spread over 32 reducers instead of one. Same
    rows, same oracle as the unsalted twin."""
    fact = _skew_fact(spark, sf_dir).withColumn(
        "salt", F.pmod(F.hash("event_id", "rep"), F.lit(SKEW_SALTS))
    )
    dim = (
        _skew_dim(spark, sf_dir)
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(SKEW_SALTS - 1))))
        .hint("shuffle_hash")
    )
    return _skew_agg(fact.join(dim, ["skew_key", "salt"]))


JOIN_SKEW_ORACLE = f"""
WITH fact AS (
    SELECT CASE WHEN user_id % 100 = 0 THEN user_id ELSE 0 END AS skew_key,
           event_id, CAST(round(value * 100) AS BIGINT) AS cents, t.rep
    FROM events, (SELECT unnest(range({SKEW_REPL})) AS rep) t
),
dim AS (
    SELECT DISTINCT skew_key, CAST(skew_key % 10 AS INTEGER) AS bucket FROM fact
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents + rep) AS BIGINT) AS total_cents,
       CAST(SUM(('0x' || substring(md5(event_id || '_' || rep || '_' || bucket), 1, 8))::BIGINT)
            AS BIGINT) AS payload_sum
FROM fact JOIN dim USING (skew_key)
GROUP BY bucket
"""

SPECS.append(
    QuerySpec(
        "join_skew_unsalted",
        join_skew_unsalted,
        JOIN_SKEW_ORACLE,
    )
)
SPECS.append(
    QuerySpec(
        "join_skew_salted",
        join_skew_salted,
        JOIN_SKEW_ORACLE,
    )
)


_Z_BITS = 20  # 2^20 ≈ 1M distinct values per dimension — covers the
# part/supp key domains up to sf ~50; widen to 31 for a full BIGINT
# domain (interleaved z still fits a LONG at 2x31 = 62 bits).


def _z_interleave(x, y, bits: int = _Z_BITS):
    """Morton/Z-order code: bit-interleave two non-negative ints into
    one long (x gets odd bit positions, y even). A fold of shift/and/
    or built-ins — whole-stage codegen, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i + 1))
            .bitwiseOR(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i))
        )
    return z


def sink_zorder_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout: range-partition + sort lineitem by
    the Morton interleave of (l_partkey, l_suppkey), so every file
    covers a small RECTANGLE of the 2-D key space instead of a thin
    slice of one dimension. Single-column range clustering
    (``sink_clustered_write``) makes one predicate dimension
    skippable and leaves the other uniform across all files; Z-order
    keeps BOTH footer min/max ranges narrow, so 2-D selective scans
    (part x supplier probes) skip most files. The audit reads back a
    2-D box through the clustered copy; results are layout-
    independent (oracle = same filter on the original table) and
    per-file 2-D range narrowing is asserted in
    tests/test_scale_posture.py."""
    path = os.path.join(workdir(sf_dir, "zorder"), "by_part_supp")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        li = load(spark, sf_dir, "lineitem")
        (
            li.withColumn(
                "z", _z_interleave(F.col("l_partkey"), F.col("l_suppkey"))
            )
            .repartitionByRange(8, "z")
            .sortWithinPartitions("z")
            .drop("z")
            .write.mode("overwrite")
            .parquet(path)
        )
    return (
        spark.read.parquet(path)
        .filter(
            (F.col("l_partkey") < 300) & (F.col("l_suppkey") < 30)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_checksum"),
        )
        .orderBy("l_returnflag")
    )


SINK_ZORDER_WRITE_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_checksum
FROM lineitem
WHERE l_partkey < 300 AND l_suppkey < 30
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

SPECS.append(
    QuerySpec(
        "sink_zorder_write",
        sink_zorder_write,
        SINK_ZORDER_WRITE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# wf_delete_compliance — targeted hard delete with audit (GDPR shape)
# ---------------------------------------------------------------------------


def wf_delete_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure hard delete: a deterministic deletion list
    (hash-selected customers — standing in for DSR requests) is
    anti-joined out of both the customer dim and their orders, the
    purged copies are REWRITTEN to scratch parquet (the physical
    erasure — filtering a view is not deletion), and the returned
    audit row proves from the REWRITTEN files what was removed and
    what survived, with a DECIMAL checksum. Scale shape: broadcast
    anti-joins (the deletion list is always small), one rewrite of
    affected data, audit aggregates over the new files only."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    del_keys = cust.filter(
        h32(F.col("c_custkey").cast("string")) % 50 == 0
    ).select("c_custkey")

    out_c = os.path.join(workdir(sf_dir, "compliance"), "customer_purged")
    out_o = os.path.join(workdir(sf_dir, "compliance"), "orders_purged")
    cust.join(F.broadcast(del_keys), "c_custkey", "left_anti").write.mode(
        "overwrite"
    ).parquet(out_c)
    orders.join(
        F.broadcast(del_keys),
        orders.o_custkey == del_keys.c_custkey,
        "left_anti",
    ).write.mode("overwrite").parquet(out_o)

    pc = spark.read.parquet(out_c)
    po = spark.read.parquet(out_o)
    return (
        pc.agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("customer_kept").alias("metric"), F.col("n").cast("double").alias("value"))
        .unionByName(
            po.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("orders_kept").alias("metric"), F.col("n").cast("double").alias("value")
            )
        )
        .unionByName(
            po.agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("v")
            ).select(F.lit("orders_kept_checksum").alias("metric"), F.col("v").alias("value"))
        )
        .unionByName(
            pc.join(F.broadcast(del_keys), "c_custkey", "left_semi")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit("deleted_still_present").alias("metric"),
                F.col("n").cast("double").alias("value"),
            )
        )
    )


_H32_CUSTKEY = "('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT"

WF_DELETE_COMPLIANCE_ORACLE = f"""
WITH del AS (SELECT c_custkey FROM customer WHERE {_H32_CUSTKEY} % 50 = 0)
SELECT 'customer_kept' AS metric,
       CAST((SELECT COUNT(*) FROM customer
             WHERE c_custkey NOT IN (SELECT c_custkey FROM del)) AS DOUBLE) AS value
UNION ALL
SELECT 'orders_kept',
       CAST((SELECT COUNT(*) FROM orders
             WHERE o_custkey NOT IN (SELECT c_custkey FROM del)) AS DOUBLE)
UNION ALL
SELECT 'orders_kept_checksum',
       CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders
             WHERE o_custkey NOT IN (SELECT c_custkey FROM del)) AS DOUBLE)
UNION ALL
SELECT 'deleted_still_present', CAST(0 AS DOUBLE)
"""

SPECS.append(
    QuerySpec(
        "wf_delete_compliance",
        wf_delete_compliance,
        WF_DELETE_COMPLIANCE_ORACLE,
    )
)


def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent daily-ingest shape
    at 100 TB: re-running a day's job replaces ONLY the partitions the
    job produced, never truncating the table. Base = orders
    partitioned by o_orderpriority; the "rerun" writes a corrected
    batch for exactly one priority class with
    partitionOverwriteMode=dynamic (set per-write via the DataFrameWriter
    option, not session conf, so the driver's session is untouched).
    The audit proves surgical replacement: untouched partitions keep
    their original checksum, the replaced one carries the corrected
    rows. Oracle recomputes the expected post-state from the source."""
    path = workdir(sf_dir, "dyn_overwrite")
    tgt = os.path.join(path, "orders_by_priority")
    stamp = os.path.join(path, "_DONE")
    orders = load(spark, sf_dir, "orders")
    if not os.path.exists(stamp):
        orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(tgt)
        corrected = (
            orders.filter(F.col("o_orderpriority") == "1-URGENT")
            .withColumn(
                "o_totalprice", (F.col("o_totalprice").cast("decimal(18,2)") * 2).cast("double")
            )
        )
        (
            corrected.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("o_orderpriority")
            .parquet(tgt)
        )
        with open(stamp, "w") as fh:
            fh.write("ok")
    return (
        spark.read.parquet(tgt)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_checksum"),
        )
        .orderBy("o_orderpriority")
    )


SINK_DYNAMIC_PARTITION_OVERWRITE_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
                     ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
            AS DOUBLE) AS price_checksum
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

SPECS.append(
    QuerySpec(
        "sink_dynamic_partition_overwrite",
        sink_dynamic_partition_overwrite,
        SINK_DYNAMIC_PARTITION_OVERWRITE_ORACLE,
    )
)


def src_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations — a decade-scale table
    never has one schema. Generation 1 writes (o_orderkey, o_custkey,
    o_totalprice); generation 2 adds o_orderpriority (new column).
    ``mergeSchema=true`` reads both generations as one table, with the
    missing column NULL-filled for gen-1 rows — Spark resolves the
    union of parquet footers instead of failing on the first
    mismatch. Split rule is deterministic (orderkey parity), so the
    oracle reproduces the merged view exactly."""
    gen_dir = workdir(sf_dir, "schema_gens")
    orders = load(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(gen_dir, "_DONE")):
        (
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.mode("overwrite")
            .parquet(os.path.join(gen_dir, "gen=1"))
        )
        (
            orders.filter(F.col("o_orderkey") % 2 == 1)
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
            .write.mode("overwrite")
            .parquet(os.path.join(gen_dir, "gen=2"))
        )
        with open(os.path.join(gen_dir, "_DONE"), "w") as fh:
            fh.write("ok")
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(gen_dir, "gen=1"), os.path.join(gen_dir, "gen=2")
    )
    return merged.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )


SRC_MERGE_SCHEMA_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice,
       CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
FROM orders
"""

SPECS.append(
    QuerySpec(
        "src_merge_schema",
        src_merge_schema,
        SRC_MERGE_SCHEMA_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Runtime bloom-filter semi-join reduction (Catalyst InjectRuntimeFilter)
# ---------------------------------------------------------------------------

_BLOOM_CONFS = {
    # the rewrite itself (default-on in Spark 4, pinned for vanilla sessions)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # fixture tables are far below the 10GB production default — the
    # mechanism, not the threshold, is what this op demonstrates
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
    # InjectRuntimeFilter skips joins it could plan as broadcast-hash
    # (the build side already prefilters those); at fixture scale every
    # dim is broadcastable, so disable auto-broadcast to model the
    # 100 TB case where the dim exceeds the driver. The conf window
    # only spans plan OPTIMIZATION (forced eagerly below), then is
    # restored — other queries in the session are untouched.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction via Catalyst's runtime bloom filter: the
    selective dim side (urgent finished orders) builds a
    ``bloom_filter_agg`` subquery that is pushed into the FACT scan as
    a ``might_contain`` predicate BEFORE the fact side shuffles — at
    100 TB this is the difference between shuffling every lineitem row
    and shuffling only the ~1/10th that can possibly join. Catalyst
    only injects when the join can't be planned broadcast (a broadcast
    join prefilters from its build side anyway), so the op pins
    auto-broadcast off for its plan window — modeling the big-dim
    case. Results are identical to the plain join: the bloom is a
    conservative prefilter, false positives are removed by the join.
    ``tests/test_scale_posture.py`` asserts might_contain reaches the
    fact side's scan stage."""
    with scoped_confs(spark, _BLOOM_CONFS):
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        sel = (
            load(spark, sf_dir, "orders")
            .filter(
                (F.col("o_orderpriority") == "1-URGENT")
                & (F.col("o_orderstatus") == "F")
            )
            .select("o_orderkey", "o_orderdate")
        )
        joined = li.join(sel, li.l_orderkey == sel.o_orderkey)
        out = joined.groupBy(F.month("o_orderdate").alias("order_month")).agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
        # QueryExecution caches the optimized plan per Dataset: force
        # optimization NOW, inside the conf window, so the returned
        # DataFrame keeps the injected bloom filter (and the shuffle
        # join it rides on) after the confs are restored.
        out._jdf.queryExecution().optimizedPlan()
        return out


JOIN_BLOOM_PREFILTER_ORACLE = """
SELECT CAST(month(o_orderdate) AS INTEGER) AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
GROUP BY 1
"""

SPECS.append(
    QuerySpec(
        "join_bloom_prefilter",
        join_bloom_prefilter,
        JOIN_BLOOM_PREFILTER_ORACLE,
    )
)


_TT_DEL_MOD = 17
_TT_UPD_MOD = 20


def _tt_versions(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the mini copy-on-write table (two versioned parquet
    snapshots + a JSON manifest committed by atomic rename) if absent;
    return the table root. Version 1 applies the engine's synthetic
    CDC discipline (delete h%17==0, reprice h%20==0 by 1.1) to
    version 0."""
    import json  # noqa: PLC0415

    root = workdir(sf_dir, "cow_table")
    manifest = os.path.join(root, "_manifest.json")
    if os.path.exists(manifest):
        return root
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    key_h = h32(F.col("o_orderkey").cast("string"))
    v1 = base.filter(key_h % _TT_DEL_MOD != 0).select(
        "o_orderkey",
        F.when(
            key_h % _TT_UPD_MOD == 0,
            F.round(F.col("price") * F.lit(1.1), 2).cast("decimal(18,2)"),
        )
        .otherwise(F.col("price"))
        .alias("price"),
    )
    base.write.mode("overwrite").parquet(os.path.join(root, "v0"))
    v1.write.mode("overwrite").parquet(os.path.join(root, "v1"))
    tmp = manifest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {"versions": [{"version": 0, "path": "v0"}, {"version": 1, "path": "v1"}]},
            fh,
        )
    os.replace(tmp, manifest)  # the commit: readers never see a partial table
    return root


def read_version(spark: SparkSession, root: str, version: int) -> DataFrame:
    """Time-travel read: resolve the snapshot path for `version` from
    the manifest and read it. Unknown versions fail loudly."""
    import json  # noqa: PLC0415

    with open(os.path.join(root, "_manifest.json")) as fh:
        m = json.load(fh)
    for v in m["versions"]:
        if v["version"] == version:
            return spark.read.parquet(os.path.join(root, v["path"]))
    raise ValueError(f"version {version} not in manifest {m['versions']}")


def storage_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mini copy-on-write versioned table with TIME TRAVEL — the
    lakehouse-format capability (Delta/Iceberg shape) built from the
    engine's own primitives: immutable versioned parquet snapshots, a
    JSON manifest committed by atomic rename (readers see the old
    table or the new one, never a mix — the same all-or-nothing
    contract as `sink_python_datasource`'s commit), and reads
    addressed BY VERSION through the manifest. Full-snapshot COW here;
    file-granular COW (rewrite only affected files) changes the write
    amplification, not the read contract. Output audits both
    versions — row count and exact value checksum per version — so
    the oracle (which re-derives each version from the source table)
    proves both snapshots AND the manifest routing are right."""
    root = _tt_versions(spark, sf_dir)
    out = []
    for ver in (0, 1):
        df = read_version(spark, root, ver)
        out.append(
            df.agg(
                F.lit(ver).alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("price").cast("double").alias("sum_price"),
                F.sum(
                    (h32(F.col("o_orderkey").cast("string")) % 97).cast(
                        "decimal(18,0)"
                    )
                )
                .cast("double")
                .alias("key_checksum"),
            )
        )
    return out[0].unionByName(out[1])


STORAGE_TIME_TRAVEL_ORACLE = f"""
WITH v0 AS (
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders
),
keyed AS (
    SELECT *, ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM v0
),
v1 AS (
    SELECT o_orderkey,
           CASE WHEN h % {_TT_UPD_MOD} = 0
                THEN CAST(round(price * 1.1, 2) AS DECIMAL(18,2))
                ELSE price END AS price,
           h
    FROM keyed WHERE h % {_TT_DEL_MOD} != 0
)
SELECT 0 AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(h % 97 AS DECIMAL(18,0))) AS DOUBLE) AS key_checksum
FROM keyed
UNION ALL
SELECT 1 AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(h % 97 AS DECIMAL(18,0))) AS DOUBLE) AS key_checksum
FROM v1
"""

SPECS.append(
    QuerySpec(
        "storage_time_travel",
        storage_time_travel,
        STORAGE_TIME_TRAVEL_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# storage_merge_on_read — base + delta log merged at read time (MOR)
# ---------------------------------------------------------------------------

_MOR_UPD1 = 23  # delta1 repricing: h % 23 == 0 -> *1.2
_MOR_INS = 31  # delta1 inserts:   h % 31 == 0 -> new key (+1e9), *0.5
_MOR_UPD2 = 23  # delta2 repricing: h % 23 == 1 -> *0.9
_MOR_DEL = 29  # delta2 tombstone: h % 29 == 0
_MOR_KEY_SHIFT = 1_000_000_000  # insert-key offset (above any fixture key)


def _mor_reprice(mult: str):
    """price * mult in EXACT DECIMAL arithmetic (multiplier parsed as
    decimal(2,1), product scale 3, HALF_UP round to 2) — double
    multiplication here diverges from the DECIMAL-native oracle on
    half-way products (observed: 5 cents across 1159 rows at sf0.01)."""
    m = F.lit(mult).cast("decimal(2,1)")
    return (
        F.round(F.col("price") * m, 2).cast("decimal(18,2)").alias("price")
    )


def _mor_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the mini MERGE-ON-READ table if absent: one base
    parquet snapshot plus two append-only delta files (upserts,
    inserts, tombstones) derived deterministically from orders by the
    engine's synthetic-CDC hash discipline. Unlike the COW twin
    (`_tt_versions`), a write here never rewrites the base — that is
    the MOR trade: O(delta) writes, merge cost paid by readers."""
    root = workdir(sf_dir, "mor_table")
    marker = os.path.join(root, "_MOR_OK")
    if os.path.exists(marker):
        return root
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    h = h32(F.col("key").cast("string"))
    d1_upd = base.filter(h % _MOR_UPD1 == 0).select(
        "key",
        _mor_reprice("1.2"),
        F.lit("upsert").alias("op"),
    )
    d1_ins = base.filter(h % _MOR_INS == 0).select(
        (F.col("key") + F.lit(_MOR_KEY_SHIFT)).alias("key"),
        _mor_reprice("0.5"),
        F.lit("upsert").alias("op"),
    )
    d2_upd = base.filter((h % _MOR_UPD2 == 1) & (h % _MOR_DEL != 0)).select(
        "key",
        _mor_reprice("0.9"),
        F.lit("upsert").alias("op"),
    )
    d2_del = base.filter(h % _MOR_DEL == 0).select(
        "key",
        F.lit(None).cast("decimal(18,2)").alias("price"),
        F.lit("delete").alias("op"),
    )
    base.write.mode("overwrite").parquet(os.path.join(root, "base"))
    d1_upd.unionByName(d1_ins).write.mode("overwrite").parquet(
        os.path.join(root, "delta1")
    )
    d2_upd.unionByName(d2_del).write.mode("overwrite").parquet(
        os.path.join(root, "delta2")
    )
    with open(marker, "w") as fh:
        fh.write("ok")
    return root


def read_merge_on_read(spark: SparkSession, root: str) -> DataFrame:
    """The MOR read path: base ∪ deltas tagged with their commit
    sequence, latest record per key wins (row_number over seq desc —
    unique because a key appears at most once per commit), tombstones
    dropped after the merge. ONE shuffle keyed on the table key; at
    100 TB the delta files are tiny next to base, so AQE plans the
    union's delta side as locally-read small partitions and the merge
    cost is the one sort-shuffle — which compaction (rewriting base
    with the deltas folded in, then truncating the log) amortizes
    away; `sink_compact_small_files` is that maintenance pass."""
    from pyspark.sql import Window  # noqa: PLC0415

    base = (
        spark.read.parquet(os.path.join(root, "base"))
        .select("key", "price", F.lit("upsert").alias("op"))
        .withColumn("seq", F.lit(0))
    )
    d1 = spark.read.parquet(os.path.join(root, "delta1")).withColumn(
        "seq", F.lit(1)
    )
    d2 = spark.read.parquet(os.path.join(root, "delta2")).withColumn(
        "seq", F.lit(2)
    )
    w = Window.partitionBy("key").orderBy(F.desc("seq"))
    return (
        base.unionByName(d1)
        .unionByName(d2)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "delete"))
        .select("key", "price")
    )


def _mor_audit(df: DataFrame, layer: str) -> DataFrame:
    return df.agg(
        F.lit(layer).alias("layer"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("sum_price"),
        F.sum((h32(F.col("key").cast("string")) % 97).cast("decimal(18,0)"))
        .cast("double")
        .alias("key_checksum"),
    )


def storage_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ table (Hudi/Iceberg-v2 read-path shape), the
    write-optimized complement to `storage_time_travel`'s COW: commits
    append delta files (upserts, inserts, delete tombstones) without
    touching the base snapshot, and the reader reconciles — latest
    commit per key wins, tombstones drop. Output audits every layer
    (base, both deltas, merged view) with row counts and exact
    checksums; the oracle re-derives each from the source table by the
    same hash discipline, INDEPENDENTLY of the seq-merge formulation —
    so it proves the staged files and the reader's merge semantics.
    (Insert keys are offset by 1e9 — above any fixture key; a real
    table would allocate from a key server or UUIDs.)"""
    root = _mor_table(spark, sf_dir)
    base = spark.read.parquet(os.path.join(root, "base"))
    d1 = spark.read.parquet(os.path.join(root, "delta1"))
    d2 = spark.read.parquet(os.path.join(root, "delta2"))
    merged = read_merge_on_read(spark, root)
    return (
        _mor_audit(base, "0_base")
        .unionByName(_mor_audit(d1, "1_delta1"))
        .unionByName(_mor_audit(d2, "2_delta2"))
        .unionByName(_mor_audit(merged, "3_merged"))
    )


STORAGE_MERGE_ON_READ_ORACLE = f"""
WITH keyed AS (
    SELECT o_orderkey AS k,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price,
           ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM orders
),
ins AS (
    SELECT k + {_MOR_KEY_SHIFT} AS key,
           CAST(round(price * 0.5, 2) AS DECIMAL(18,2)) AS price
    FROM keyed WHERE h % {_MOR_INS} = 0
),
hh AS (
    SELECT key, price,
           ('0x' || substring(md5(CAST(key AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM ins
),
d1 AS (
    SELECT k AS key, CAST(round(price * 1.2, 2) AS DECIMAL(18,2)) AS price, h
    FROM keyed WHERE h % {_MOR_UPD1} = 0
    UNION ALL
    SELECT key, price, h FROM hh
),
d2 AS (
    SELECT k AS key, CAST(round(price * 0.9, 2) AS DECIMAL(18,2)) AS price, h
    FROM keyed WHERE h % {_MOR_UPD2} = 1 AND h % {_MOR_DEL} != 0
    UNION ALL
    SELECT k, CAST(NULL AS DECIMAL(18,2)), h FROM keyed WHERE h % {_MOR_DEL} = 0
),
merged AS (
    SELECT k AS key,
           CASE WHEN h % {_MOR_UPD2} = 1
                THEN CAST(round(price * 0.9, 2) AS DECIMAL(18,2))
                WHEN h % {_MOR_UPD1} = 0
                THEN CAST(round(price * 1.2, 2) AS DECIMAL(18,2))
                ELSE price END AS price,
           h
    FROM keyed WHERE h % {_MOR_DEL} != 0
    UNION ALL
    SELECT key, price, h FROM hh
),
audits AS (
    SELECT '0_base' AS layer, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(h % 97 AS DECIMAL(18,0))) AS DOUBLE) AS key_checksum
    FROM keyed
    UNION ALL
    SELECT '1_delta1', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(price) AS DOUBLE),
           CAST(SUM(CAST(h % 97 AS DECIMAL(18,0))) AS DOUBLE)
    FROM d1
    UNION ALL
    SELECT '2_delta2', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(price) AS DOUBLE),
           CAST(SUM(CAST(h % 97 AS DECIMAL(18,0))) AS DOUBLE)
    FROM d2
    UNION ALL
    SELECT '3_merged', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(price) AS DOUBLE),
           CAST(SUM(CAST(h % 97 AS DECIMAL(18,0))) AS DOUBLE)
    FROM merged
)
SELECT * FROM audits
"""

SPECS.append(
    QuerySpec(
        "storage_merge_on_read",
        storage_merge_on_read,
        STORAGE_MERGE_ON_READ_ORACLE,
    )
)


def storage_mor_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOR COMPACTION — the maintenance pass that repays the
    merge-on-read read tax: materialize the reader's merged view as a
    new base snapshot (one keyed shuffle, same plan as the read path),
    commit it by atomic marker rename, and retire the delta log for
    that base. Readers before the commit merge base+deltas; readers
    after scan one compacted file set with NO merge — the
    write-amplification/read-cost trade flipping back, on the
    schedule compaction chooses (Hudi's compactor, Iceberg's
    rewrite_data_files — same contract).

    Output proves the flip: the audit row of the COMPACTED base read
    back from disk (layer 'compacted') next to the live merged view
    ('merged') — identical n_rows/sum/checksum — plus the retired
    delta log's row count as 'log_retired'. The oracle re-derives all
    three from the source table; a compaction that lost an upsert or
    resurrected a tombstone breaks the hash."""
    root = _mor_table(spark, sf_dir)
    cdir = os.path.join(root, "compacted")
    marker = os.path.join(root, "_COMPACT_OK")
    if not os.path.exists(marker):
        read_merge_on_read(spark, root).write.mode("overwrite").parquet(cdir)
        with open(marker, "w") as fh:
            fh.write("base+delta1+delta2")  # the retired-log commit record
    compacted = spark.read.parquet(cdir)
    merged = read_merge_on_read(spark, root)
    retired = (
        spark.read.parquet(os.path.join(root, "delta1"))
        .unionByName(spark.read.parquet(os.path.join(root, "delta2")))
        .select("key", "price")
    )
    return (
        _mor_audit(compacted, "compacted")
        .unionByName(_mor_audit(merged, "merged"))
        .unionByName(_mor_audit(retired, "log_retired"))
    )


STORAGE_MOR_COMPACT_ORACLE = f"""
WITH keyed AS (
    SELECT o_orderkey AS k,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price,
           ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM orders
),
ins AS (
    SELECT k + {_MOR_KEY_SHIFT} AS key,
           CAST(round(price * 0.5, 2) AS DECIMAL(18,2)) AS price
    FROM keyed WHERE h % {_MOR_INS} = 0
),
hh AS (
    SELECT key, price,
           ('0x' || substring(md5(CAST(key AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM ins
),
merged AS (
    SELECT k AS key,
           CASE WHEN h % {_MOR_UPD2} = 1
                THEN CAST(round(price * 0.9, 2) AS DECIMAL(18,2))
                WHEN h % {_MOR_UPD1} = 0
                THEN CAST(round(price * 1.2, 2) AS DECIMAL(18,2))
                ELSE price END AS price,
           h
    FROM keyed WHERE h % {_MOR_DEL} != 0
    UNION ALL
    SELECT key, price, h FROM hh
),
log_rows AS (
    SELECT k AS key, CAST(round(price * 1.2, 2) AS DECIMAL(18,2)) AS price, h
    FROM keyed WHERE h % {_MOR_UPD1} = 0
    UNION ALL
    SELECT key, price, h FROM hh
    UNION ALL
    SELECT k, CAST(round(price * 0.9, 2) AS DECIMAL(18,2)), h
    FROM keyed WHERE h % {_MOR_UPD2} = 1 AND h % {_MOR_DEL} != 0
    UNION ALL
    SELECT k, CAST(NULL AS DECIMAL(18,2)), h FROM keyed WHERE h % {_MOR_DEL} = 0
),
audits AS (
    SELECT 'compacted' AS layer, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(h % 97 AS DECIMAL(18,0))) AS DOUBLE) AS key_checksum
    FROM merged
    UNION ALL
    SELECT 'merged', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(price) AS DOUBLE),
           CAST(SUM(CAST(h % 97 AS DECIMAL(18,0))) AS DOUBLE)
    FROM merged
    UNION ALL
    SELECT 'log_retired', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(price) AS DOUBLE),
           CAST(SUM(CAST(h % 97 AS DECIMAL(18,0))) AS DOUBLE)
    FROM log_rows
)
SELECT * FROM audits
"""

SPECS.append(
    QuerySpec(
        "storage_mor_compact",
        storage_mor_compact,
        STORAGE_MOR_COMPACT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# join_dynamic_partition_pruning — runtime partition pruning off a dim filter
# ---------------------------------------------------------------------------


def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the runtime half of the engine's
    pruning story: `sink_parquet_partitioned` proves static pruning
    (literal predicate → PartitionFilters); here the pruning VALUES
    are only known at runtime, from the dimension side of a join. The
    customer table is staged partitioned by c_nationkey; the query
    joins it to nations filtered to one region name. Catalyst inserts
    a dynamicpruning subquery on the fact's partition column
    (asserted in tests/test_scale_posture.py), so only the 5 matching
    nation directories are read — at 100 TB this is the difference
    between scanning a fact table and scanning 20% of it, and it
    composes with every star join whose dim carries a filter."""
    path = workdir(sf_dir, "dpp_customer")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        load(spark, sf_dir, "customer").write.mode("overwrite").partitionBy(
            "c_nationkey"
        ).parquet(path)
    cust = spark.read.parquet(path)
    nat = load(spark, sf_dir, "nation").join(
        load(spark, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey")
    ).filter(F.col("r_name") == "EUROPE").select("n_nationkey", "n_name")
    return (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
        .orderBy("n_name")
    )


JOIN_DPP_ORACLE = """
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
GROUP BY n.n_name
ORDER BY n.n_name
"""

SPECS.append(
    QuerySpec(
        "join_dynamic_partition_pruning",
        join_dynamic_partition_pruning,
        JOIN_DPP_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# storage_vacuum_retention — retire superseded MOR files (soft delete)
# ---------------------------------------------------------------------------


def storage_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM — the third act of the MOR lifecycle (write deltas →
    compact → vacuum): after `storage_mor_compact` commits the
    compacted base, the superseded base and delta-log files are
    retired. Retirement is a SOFT delete (atomic directory renames
    into a trash/ area — Delta's `VACUUM RETAIN`, Iceberg's
    `expire_snapshots` shape), so a misconfigured retention can be
    rolled back and, here, the audit can still READ the retired
    bytes: the output proves (a) the post-vacuum table (compacted
    dir alone) still serves the exact merged view, and (b) exactly
    the expected base and log rows were retired — a vacuum that
    moved a live file breaks the post_vacuum audit row, one that
    missed a file breaks the retired rows. Refuses to run without
    the compaction marker (the retention guard). Retirement itself is
    pure metadata ops — no data is rewritten at any scale."""
    import shutil as _sh  # noqa: PLC0415

    # Vacuum operates on its OWN CLONE of the staged MOR table:
    # retiring files under the shared mor_table would break the
    # merge-on-read/compact ops on re-runs against a persistent
    # scratch dir (exactly the isolation a real vacuum gets from
    # table-level locking).
    src_root = _mor_table(spark, sf_dir)
    root = workdir(sf_dir, "mor_vacuum")
    clone_marker = os.path.join(root, "_CLONE_OK")
    if not os.path.exists(clone_marker):
        for d in ("base", "delta1", "delta2"):
            dst = os.path.join(root, d)
            _sh.rmtree(dst, ignore_errors=True)
            _sh.copytree(os.path.join(src_root, d), dst)
        read_merge_on_read(spark, root).write.mode("overwrite").parquet(
            os.path.join(root, "compacted")
        )
        with open(os.path.join(root, "_COMPACT_OK"), "w") as fh:
            fh.write("base+delta1+delta2")
        with open(clone_marker, "w") as fh:
            fh.write("ok")
    trash = os.path.join(root, "trash")
    marker = os.path.join(root, "_VACUUM_OK")
    if not os.path.exists(marker):
        os.makedirs(trash, exist_ok=True)
        for d in ("base", "delta1", "delta2"):
            src_d = os.path.join(root, d)
            if os.path.exists(src_d):
                os.rename(src_d, os.path.join(trash, d))
        with open(marker, "w") as fh:
            fh.write("base,delta1,delta2 -> trash/")
    post = spark.read.parquet(os.path.join(root, "compacted"))
    retired_base = spark.read.parquet(os.path.join(trash, "base"))
    retired_log = (
        spark.read.parquet(os.path.join(trash, "delta1"))
        .unionByName(spark.read.parquet(os.path.join(trash, "delta2")))
        .select("key", "price")
    )
    return (
        _mor_audit(post, "post_vacuum")
        .unionByName(_mor_audit(retired_base, "retired_base"))
        .unionByName(_mor_audit(retired_log, "retired_log"))
    )


STORAGE_VACUUM_RETENTION_ORACLE = f"""
WITH keyed AS (
    SELECT o_orderkey AS k,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price,
           ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM orders
),
ins AS (
    SELECT k + {_MOR_KEY_SHIFT} AS key,
           CAST(round(price * 0.5, 2) AS DECIMAL(18,2)) AS price
    FROM keyed WHERE h % {_MOR_INS} = 0
),
hh AS (
    SELECT key, price,
           ('0x' || substring(md5(CAST(key AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM ins
),
merged AS (
    SELECT k AS key,
           CASE WHEN h % {_MOR_UPD2} = 1
                THEN CAST(round(price * 0.9, 2) AS DECIMAL(18,2))
                WHEN h % {_MOR_UPD1} = 0
                THEN CAST(round(price * 1.2, 2) AS DECIMAL(18,2))
                ELSE price END AS price,
           h
    FROM keyed WHERE h % {_MOR_DEL} != 0
    UNION ALL
    SELECT key, price, h FROM hh
),
log_rows AS (
    SELECT k AS key, CAST(round(price * 1.2, 2) AS DECIMAL(18,2)) AS price, h
    FROM keyed WHERE h % {_MOR_UPD1} = 0
    UNION ALL
    SELECT key, price, h FROM hh
    UNION ALL
    SELECT k, CAST(round(price * 0.9, 2) AS DECIMAL(18,2)), h
    FROM keyed WHERE h % {_MOR_UPD2} = 1 AND h % {_MOR_DEL} != 0
    UNION ALL
    SELECT k, CAST(NULL AS DECIMAL(18,2)), h FROM keyed WHERE h % {_MOR_DEL} = 0
),
audits AS (
    SELECT 'post_vacuum' AS layer, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(h % 97 AS DECIMAL(18,0))) AS DOUBLE) AS key_checksum
    FROM merged
    UNION ALL
    SELECT 'retired_base', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(price) AS DOUBLE),
           CAST(SUM(CAST(h % 97 AS DECIMAL(18,0))) AS DOUBLE)
    FROM keyed
    UNION ALL
    SELECT 'retired_log', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(price) AS DOUBLE),
           CAST(SUM(CAST(h % 97 AS DECIMAL(18,0))) AS DOUBLE)
    FROM log_rows
)
SELECT * FROM audits
"""

SPECS.append(
    QuerySpec(
        "storage_vacuum_retention",
        storage_vacuum_retention,
        STORAGE_VACUUM_RETENTION_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Partition-scheme evolution (coarse -> fine without rewriting history)
# ---------------------------------------------------------------------------


def storage_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scheme evolution: the table starts day-partitioned
    (v1: ``d=``), then the ingest switches to day+type partitioning
    (v2: ``d=/event_type=``) mid-stream — and history is NOT
    rewritten. At 100 TB a re-partition of years of data is the
    single most expensive operation a table owner can trigger; the
    scalable move is to leave old segments in the old scheme and
    union the layouts behind one view, which is exactly what table
    formats (Iceberg partition-spec evolution) do under the hood.

    Both scans keep partition pruning in THEIR OWN scheme: the d
    range prunes v1 to 6 day-directories and v2 to 9, and the
    event_type predicate additionally prunes v2's subdirectories
    while remaining a (pushed-down) data filter on v1. The unified
    result is oracle-checked against the raw events table, proving
    the seam loses nothing.
    """
    base = workdir(sf_dir, "partition_evolution")
    v1 = os.path.join(base, "v1_by_day")
    v2 = os.path.join(base, "v2_by_day_type")
    stamp = os.path.join(base, "_DONE")
    if not os.path.exists(stamp):
        ev = load(spark, sf_dir, "events").withColumn(
            "d", F.date_format("ts", "yyyy-MM-dd")
        )
        ev.filter(F.col("d") < "2024-01-16").write.mode("overwrite").partitionBy(
            "d"
        ).parquet(v1)
        ev.filter(F.col("d") >= "2024-01-16").write.mode("overwrite").partitionBy(
            "d", "event_type"
        ).parquet(v2)
        with open(stamp, "w") as fh:
            fh.write("ok")
    cols = ["d", "event_type", "value"]
    unified = (
        spark.read.parquet(v1)
        .select(*[F.col(c).cast("string" if c != "value" else "double") for c in cols])
        .unionByName(
            spark.read.parquet(v2).select(
                *[F.col(c).cast("string" if c != "value" else "double") for c in cols]
            )
        )
    )
    return (
        unified.filter(
            F.col("d").between("2024-01-10", "2024-01-24")
            & F.col("event_type").isin("click", "purchase")
        )
        .groupBy("d", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_checksum"),
        )
        .orderBy("d", "event_type")
    )


STORAGE_PARTITION_EVOLUTION_ORACLE = """
SELECT strftime(ts, '%Y-%m-%d') AS d, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_checksum
FROM events
WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-24'
  AND event_type IN ('click', 'purchase')
GROUP BY 1, 2
ORDER BY 1, 2
"""

SPECS.append(
    QuerySpec(
        "storage_partition_evolution",
        storage_partition_evolution,
        STORAGE_PARTITION_EVOLUTION_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Manifest-driven file skipping (Iceberg/Delta manifest pattern)
# ---------------------------------------------------------------------------


def storage_manifest_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping driven by a MANIFEST built from parquet
    footers only — the Iceberg/Delta mechanism, one level finer than
    directory partition pruning (``join_dynamic_partition_pruning``)
    and the read-side completion of ``sink_clustered_write``'s layout
    story: cluster on write, then let the planner select files by
    their footer min/max without opening any data pages.

    The manifest is built by reading ONLY file footers (pyarrow
    metadata — no row groups decoded), the planner intersects each
    file's [min,max] shipdate band with the query predicate
    conservatively (inclusive bounds), and Spark reads just the
    selected files. The predicate is still applied after the read, so
    a too-wide selection can never change the answer — skipping is
    purely an I/O optimization, which is what makes it safe to drive
    from stats. Footer-only planning is O(#files) metadata work on
    the driver, the same cost class as Spark's own file listing; at
    100 TB the manifest itself becomes a table and the intersection a
    Spark filter — same logic, bigger planner.

    Skipping effectiveness (selected < total files) is asserted in
    tests/test_scale_posture.py; correctness here is oracle-checked
    against the raw table.
    """
    import datetime as _dt  # noqa: PLC0415
    import glob as _glob  # noqa: PLC0415

    import pyarrow.parquet as _pq  # noqa: PLC0415

    path = os.path.join(workdir(sf_dir, "manifest_skip"), "by_shipdate")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            load(spark, sf_dir, "lineitem")
            .repartitionByRange(16, "l_shipdate")
            .sortWithinPartitions("l_shipdate")
            .write.mode("overwrite")
            .parquet(path)
        )
    lo = _dt.datetime(1995, 6, 1)
    hi = _dt.datetime(1995, 9, 1)
    selected: list[str] = []
    for fp in sorted(_glob.glob(os.path.join(path, "*.parquet"))):
        md = _pq.ParquetFile(fp).metadata
        ship_idx = md.schema.names.index("l_shipdate")
        f_min = f_max = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ship_idx).statistics
            if st is None or not st.has_min_max:  # stats missing: never skip
                f_min, f_max = _dt.datetime.min, _dt.datetime.max
                break
            f_min = st.min if f_min is None else min(f_min, st.min)
            f_max = st.max if f_max is None else max(f_max, st.max)
        if f_min is not None and f_max >= lo and f_min < hi:
            selected.append(fp)
    return (
        spark.read.parquet(*selected)
        .filter((F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") < F.lit(hi)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_checksum"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


STORAGE_MANIFEST_SKIPPING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_checksum
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_shipdate < TIMESTAMP '1995-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

SPECS.append(
    QuerySpec(
        "storage_manifest_skipping",
        storage_manifest_skipping,
        STORAGE_MANIFEST_SKIPPING_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Compaction bin-packing planner (which partitions merge into which file)
# ---------------------------------------------------------------------------

_COMPACT_TARGET_ROWS = 3_000  # stand-in for the 128MB-file byte target


def wf_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction PLANNER — the scheduling half that
    ``sink_compact_small_files`` (the executor half) presupposes: given
    a manifest of small logical partitions (here orders bucketed per
    priority × day, the daily-ingest grain), assign contiguous runs of
    partitions to target-sized output bins with the concatenate-and-cut
    rule: lay each scope's partitions end to end in day order and open
    a new bin whenever the running total crosses the target —
    bin_id = floor(start_offset / target), the next-fit
    approximation every table-maintenance service (OPTIMIZE /
    rewrite_data_files) uses, computed as a window cumsum.

    Scale posture: the manifest is one partial+final count aggregate
    over the fact; the planning window is partitioned per scope
    (priority), so packing is embarrassingly parallel across scopes
    and the per-scope sort is manifest-sized (days, not rows). The
    planner never touches data files — same discipline as
    ``storage_manifest_skipping``'s footer-only read path.
    """
    manifest = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("scope"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("part_rows"))
    )
    w = Window.partitionBy("scope").orderBy("d")
    planned = manifest.withColumn(
        "start_off", F.sum("part_rows").over(w) - F.col("part_rows")
    ).withColumn(
        "bin_id",
        F.floor(F.col("start_off") / F.lit(_COMPACT_TARGET_ROWS)).cast("int"),
    )
    return (
        planned.groupBy("scope", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("part_rows").cast("bigint").alias("bin_rows"),
            F.min("d").alias("first_day"),
            F.max("d").alias("last_day"),
        )
        .orderBy("scope", "bin_id")
    )


WF_COMPACTION_PLAN_ORACLE = f"""
WITH manifest AS (
    SELECT o_orderpriority AS scope,
           strftime(o_orderdate, '%Y-%m-%d') AS d,
           COUNT(*) AS part_rows
    FROM orders GROUP BY 1, 2
),
planned AS (
    SELECT scope, d, part_rows,
           SUM(part_rows) OVER (PARTITION BY scope ORDER BY d
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - part_rows AS start_off
    FROM manifest
)
SELECT scope, CAST(FLOOR(start_off / {_COMPACT_TARGET_ROWS}) AS INTEGER) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(part_rows) AS BIGINT) AS bin_rows,
       MIN(d) AS first_day,
       MAX(d) AS last_day
FROM planned
GROUP BY 1, 2
ORDER BY scope, bin_id
"""

SPECS.append(
    QuerySpec(
        "wf_compaction_plan",
        wf_compaction_plan,
        WF_COMPACTION_PLAN_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Deletion vectors — position-based row-level deletes without rewrite
# ---------------------------------------------------------------------------


def storage_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based DELETION VECTORS (the Iceberg-v2 position-delete
    / Delta DV mechanism) — the third row-level-change shape next to
    COW (`storage_time_travel`) and key-based MOR
    (`storage_merge_on_read`): a delete marks (file_id, row_position)
    pairs in a tiny sidecar, the base files are NEVER rewritten, and
    the reader anti-joins the vector by position. Against key-based
    tombstones, position deletes win when the table has no natural
    key or the delete came from a row-level predicate evaluated once
    (GDPR scrubs, compaction-time dedup): the vector is just
    integers, mergeable, and independent of key width.

    Positions here are derivable (file_id = o_orderkey % 4, pos =
    rank within file) so the DuckDB oracle can reproduce them without
    reading Spark's files; the read-path semantics — anti-join on
    (file_id, pos), never on the business predicate — are exactly
    production's. A posture check in tests asserts the base files'
    mtimes survive the delete untouched.
    """
    root = workdir(sf_dir, "deletion_vectors")
    base_dir = os.path.join(root, "base")
    dv_dir = os.path.join(root, "dv")
    stamp = os.path.join(root, "_DONE")
    if not os.path.exists(stamp):
        orders = load(spark, sf_dir, "orders")
        w = Window.partitionBy("file_id").orderBy("o_orderkey")
        base = (
            orders.withColumn("file_id", (F.col("o_orderkey") % 4).cast("int"))
            .withColumn("pos", F.row_number().over(w).cast("long"))
        )
        base.write.mode("overwrite").partitionBy("file_id").parquet(base_dir)
        # the "delete": a predicate evaluated ONCE, persisted as positions
        dv = base.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 < 3)
        ).select("file_id", "pos")
        dv.write.mode("overwrite").parquet(dv_dir)
        with open(stamp, "w") as fh:
            fh.write("ok")
    base = spark.read.parquet(base_dir)
    dv = spark.read.parquet(dv_dir)
    live = base.join(dv, ["file_id", "pos"], "left_anti")
    return (
        live.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_checksum"),
        )
        .orderBy("o_orderstatus")
    )


STORAGE_DELETION_VECTORS_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_checksum
FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 < 3)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

SPECS.append(
    QuerySpec(
        "storage_deletion_vectors",
        storage_deletion_vectors,
        STORAGE_DELETION_VECTORS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# storage_clustering_audit — footer-stats clustering-quality metrics
# ---------------------------------------------------------------------------

_CA_GROUPS = 12          # logical files per layout
_CA_MONTHS_PER_GROUP = 7  # clustered layout: 7 calendar months per group


def storage_clustering_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality audit from parquet FOOTERS — the metric
    behind Delta/Iceberg OPTIMIZE reports: for each layout, the
    STABBING DEPTH of the per-file [min,max] key ranges (how many
    files a point lookup on the cluster key must open). Two real
    layouts of lineitem are written and audited on l_shipdate:

    - ``clustered``: files hold contiguous 7-month bands → ranges are
      disjoint, depth ≈ 1 (a selective scan opens one file);
    - ``unclustered``: files are hash-assigned → every file spans the
      whole key range, depth ≈ n_files (every lookup opens all).

    File assignment uses an EXPLICIT rule (month band / shared h32),
    so the DuckDB oracle re-derives every file's exact min/max from
    the raw table — which must equal what the footers say (footer
    stats are exact row min/max). The depth metrics come from an
    event sweep (+1 at each range start, −1 past its end, running
    sum over the boundary relation) — the manifest is metadata-sized
    at any data scale, so the sweep window is trivially small.

    Returns one audit row per layout: file count, max depth, and the
    span-weighted mean depth in permille over the covered key range.
    """
    import datetime as _dt  # noqa: PLC0415
    import glob as _glob  # noqa: PLC0415

    import pyarrow.parquet as _pq  # noqa: PLC0415

    day = F.datediff(F.col("l_shipdate").cast("date"), F.to_date(F.lit("1970-01-01")))
    midx = (F.year("l_shipdate") - 1995) * 12 + F.month("l_shipdate") - 1
    rules = {
        "clustered": F.least(
            (midx - midx % _CA_MONTHS_PER_GROUP) / _CA_MONTHS_PER_GROUP,
            F.lit(_CA_GROUPS - 1),
        ).cast("int"),
        "unclustered": (h32(F.col("l_orderkey").cast("string")) % _CA_GROUPS).cast(
            "int"
        ),
    }
    root = workdir(sf_dir, "clustering_audit")
    manifest_rows: list[tuple[str, int, int, int]] = []
    for layout, rule in rules.items():
        path = os.path.join(root, layout)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            (
                load(spark, sf_dir, "lineitem")
                .select(F.col("l_shipdate"), rule.alias("file_id"))
                .write.partitionBy("file_id")
                .mode("overwrite")
                .parquet(path)
            )
        epoch = _dt.date(1970, 1, 1)
        for d in sorted(_glob.glob(os.path.join(path, "file_id=*"))):
            fid = int(d.rsplit("=", 1)[1])
            lo = hi = None
            for fp in sorted(_glob.glob(os.path.join(d, "*.parquet"))):
                md = _pq.ParquetFile(fp).metadata
                ci = md.schema.names.index("l_shipdate")
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    assert st is not None and st.has_min_max, fp
                    mn, mx = st.min, st.max
                    if isinstance(mn, _dt.datetime):
                        mn, mx = mn.date(), mx.date()
                    lo = mn if lo is None else min(lo, mn)
                    hi = mx if hi is None else max(hi, mx)
            manifest_rows.append(
                (layout, fid, (lo - epoch).days, (hi - epoch).days)
            )
    manifest = spark.createDataFrame(
        manifest_rows, "layout string, file_id int, lo_day int, hi_day int"
    )
    # event sweep: +1 at lo, −1 at hi+1 (inclusive ranges)
    ev = manifest.select(
        "layout", F.col("lo_day").alias("b"), F.lit(1).alias("d")
    ).unionByName(
        manifest.select("layout", (F.col("hi_day") + 1).alias("b"), F.lit(-1).alias("d"))
    )
    bounds = ev.groupBy("layout", "b").agg(F.sum("d").alias("d"))
    w = Window.partitionBy("layout").orderBy("b")
    sweep = bounds.select(
        "layout",
        "b",
        F.sum("d").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("depth"),
        (F.lead("b").over(w) - F.col("b")).alias("span"),
    ).filter(F.col("span").isNotNull() & (F.col("depth") > 0))
    files = manifest.groupBy("layout").agg(F.count(F.lit(1)).alias("n_files"))
    return (
        sweep.groupBy("layout")
        .agg(
            F.max("depth").cast("int").alias("max_depth"),
            F.expr("(sum(depth * span) * 1000) div sum(span)").alias(
                "avg_depth_permille"
            ),
            F.sum("span").cast("bigint").alias("covered_days"),
        )
        .join(F.broadcast(files), "layout")
        .select(
            "layout",
            F.col("n_files").cast("bigint").alias("n_files"),
            "max_depth",
            "avg_depth_permille",
            "covered_days",
        )
        .orderBy("layout")
    )


STORAGE_CLUSTERING_AUDIT_ORACLE = f"""
WITH tagged AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day,
           LEAST(((year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1)
                 // {_CA_MONTHS_PER_GROUP}, {_CA_GROUPS - 1}) AS fid_c,
           ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % {_CA_GROUPS} AS fid_u
    FROM lineitem
),
manifest AS (
    SELECT 'clustered' AS layout, fid_c AS file_id,
           MIN(day) AS lo_day, MAX(day) AS hi_day
    FROM tagged GROUP BY fid_c
    UNION ALL
    SELECT 'unclustered' AS layout, fid_u AS file_id,
           MIN(day) AS lo_day, MAX(day) AS hi_day
    FROM tagged GROUP BY fid_u
),
ev AS (
    SELECT layout, lo_day AS b, 1 AS d FROM manifest
    UNION ALL
    SELECT layout, hi_day + 1 AS b, -1 AS d FROM manifest
),
bounds AS (
    SELECT layout, b, SUM(d) AS d FROM ev GROUP BY layout, b
),
sweep AS (
    SELECT layout, b,
           SUM(d) OVER (PARTITION BY layout ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth,
           LEAD(b) OVER (PARTITION BY layout ORDER BY b) - b AS span
    FROM bounds
),
files AS (SELECT layout, COUNT(*) AS n_files FROM manifest GROUP BY layout)
SELECT s.layout,
       CAST(f.n_files AS BIGINT) AS n_files,
       CAST(MAX(s.depth) AS INTEGER) AS max_depth,
       CAST((SUM(s.depth * s.span) * 1000) // SUM(s.span) AS BIGINT)
           AS avg_depth_permille,
       CAST(SUM(s.span) AS BIGINT) AS covered_days
FROM sweep s JOIN files f USING (layout)
WHERE s.span IS NOT NULL AND s.depth > 0
GROUP BY s.layout, f.n_files
ORDER BY s.layout
"""

SPECS.append(
    QuerySpec(
        "storage_clustering_audit",
        storage_clustering_audit,
        STORAGE_CLUSTERING_AUDIT_ORACLE,
    )
)
