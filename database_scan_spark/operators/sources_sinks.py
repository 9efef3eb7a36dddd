"""Remaining SURVEY.md §2.1/§2.2/§2.11 surface: source/sink shapes,
the catalog, pagination, and workflow guards.

The reference's sources are remote APIs (GraphQL POST / REST GET);
the engine models them end-to-end — response *decoding* included —
against snapshot data, so the JSON-path machinery is exercised and
hash-checked, while the network fetch itself remains a connector
concern (SURVEY §2.1 notes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import TABLES, load
from ..session import run_stream
from ..sources import register
from ..spec import QuerySpec
from ._helpers import workdir

# ---------------------------------------------------------------------------
# §2.1 sources
# ---------------------------------------------------------------------------


def src_graphql_post(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic GraphQL scan: POST query → JSON response → decode →
    flatten rows (`query_opentargets(prompt)` —
    `/root/reference/query_opentargets.py:4-16`; decode+flatten
    pattern `candidate_drugs.py:94-106`).

    Modeled end to end: a nested response document per entity
    (``{"rows": [{"id", "score"}, ...]}``) is round-tripped through
    ``to_json``/``from_json`` + ``explode`` — the exact decode path a
    live connector would run on API bytes. ``array_sort`` pins the
    row order inside each response (SURVEY §1.4 determinism)."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 20)
    response = orders.groupBy("o_custkey").agg(
        F.to_json(
            F.struct(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("o_orderkey").alias("id"),
                            F.col("o_totalprice").alias("score"),
                        )
                    )
                ).alias("rows")
            )
        ).alias("response")
    )
    schema = T.StructType(
        [
            T.StructField(
                "rows",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("id", T.LongType()),
                            T.StructField("score", T.DoubleType()),
                        ]
                    )
                ),
            )
        ]
    )
    decoded = response.select(
        "o_custkey", F.explode(F.from_json("response", schema).rows).alias("r")
    )
    return decoded.select(
        F.col("o_custkey").alias("entity_id"),
        F.col("r.id").alias("edge_id"),
        F.col("r.score").alias("score"),
    )


SRC_GRAPHQL_POST_ORACLE = """
SELECT o_custkey AS entity_id, o_orderkey AS edge_id, o_totalprice AS score
FROM orders WHERE o_custkey < 20
"""


def src_rest_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REST scan with HTTP status check (`get_data(url)` returns None
    on non-200 — `/root/reference/chembl_to_molecule_type.py:3-14`,
    `chembl_to_smile.py:5-16`): per-key lookup responses with a
    status column; non-200 rows become null rows and are dropped —
    the row-level error predicate as a filter, not a try/except."""
    part = load(spark, sf_dir, "part")
    fetched = part.select(
        F.col("p_partkey").alias("key"),
        F.when(F.col("p_partkey") % 7 == 0, F.lit(404)).otherwise(F.lit(200)).alias("status"),
        F.to_json(F.struct("p_name", "p_retailprice")).alias("body"),
    )
    return fetched.filter(F.col("status") == 200).select(
        "key",
        F.get_json_object("body", "$.p_name").alias("name"),
        F.get_json_object("body", "$.p_retailprice").cast("double").alias("price"),
    )


SRC_REST_GET_ORACLE = """
SELECT p_partkey AS key, p_name AS name, p_retailprice AS price
FROM part WHERE p_partkey % 7 <> 0
"""


def filter_http_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The status predicate itself (`status_code == 200 else None` —
    `/root/reference/chembl_to_smile.py:24-36`): keep the full fetch
    ledger with ok/error partitioning visible."""
    part = load(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("key"),
        F.when(F.col("p_partkey") % 7 == 0, F.lit(404)).otherwise(F.lit(200)).alias("status"),
        (F.when(F.col("p_partkey") % 7 == 0, F.lit(404)).otherwise(F.lit(200)) == 200).alias("ok"),
    )


FILTER_HTTP_STATUS_ORACLE = """
SELECT p_partkey AS key,
       CASE WHEN p_partkey % 7 = 0 THEN 404 ELSE 200 END AS status,
       CASE WHEN p_partkey % 7 = 0 THEN 404 ELSE 200 END = 200 AS ok
FROM part
"""


def catalog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's catalog as a queryable table — the Spark analog of
    the reference's 1,580-line GraphQL SDL
    (`/root/reference/opentargets.schema`, root Query type
    `:1117-1193`): every table/column/type, driver-side constants
    (no scan). The oracle reads DuckDB's information_schema over the
    same views, with a type-name mapping."""
    rows = [
        (t, f.name, f.dataType.simpleString(), i)
        for t, schema in TABLES.items()
        for i, f in enumerate(schema.fields)
    ]
    return spark.createDataFrame(
        rows, "table_name string, column_name string, data_type string, ordinal int"
    )


CATALOG_ORACLE = """
SELECT table_name, column_name,
       CASE data_type
           WHEN 'INTEGER' THEN 'int'
           WHEN 'BIGINT' THEN 'bigint'
           WHEN 'VARCHAR' THEN 'string'
           WHEN 'DOUBLE' THEN 'double'
           WHEN 'TIMESTAMP' THEN 'timestamp'
           WHEN 'TIMESTAMP_NS' THEN 'timestamp'
           WHEN 'FLOAT[]' THEN 'array<float>'
           ELSE data_type
       END AS data_type,
       CAST(ordinal_position - 1 AS INTEGER) AS ordinal
FROM information_schema.columns
WHERE table_name IN ('region','nation','customer','supplier','part',
                     'orders','lineitem','events','documents','embeddings')
"""


def paginate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page/cursor scan (`Pagination {index,size}` —
    `/root/reference/opentargets.schema:1047-1050`; the scripts always
    take page 0): page 3 of size 20 over a total order — offset+limit
    with a unique sort key, the deterministic form."""
    return (
        load(spark, sf_dir, "part")
        .orderBy("p_partkey")
        .offset(40)
        .limit(20)
        .select("p_partkey", "p_name")
    )


PAGINATE_ORACLE = """
SELECT p_partkey, p_name FROM part ORDER BY p_partkey LIMIT 20 OFFSET 40
"""


# ---------------------------------------------------------------------------
# §2.1 sinks
# ---------------------------------------------------------------------------


def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-checkpoint CSV sink (`df.to_csv(name)` —
    `/root/reference/x2.2.py:361-405`), proven by round-trip: write
    the stage, re-read it, return the re-read (what a resume would
    see). Header on, no index column (x2.3.py:321 `index=False` is
    the fixed variant — we don't replicate the x2.2 index leak)."""
    path = workdir(sf_dir, "sink_csv")
    stage = (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stage.write.mode("overwrite").option("header", True).csv(path)
    out = spark.read.csv(path, header=True, inferSchema=True)
    return out.select("c_mktsegment", F.col("n").cast("bigint").alias("n"))


SINK_CSV_ORACLE = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
FROM customer GROUP BY c_mktsegment
"""


def sink_stdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formatted report sink (`print(f"{id:14s} {name}")` —
    `/root/reference/candidate_drugs.py:110-112,159-164`): the report
    lines as a column; the terminal print is `df.show()` on top."""
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    return (
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey)
        .select(
            F.format_string(
                "%-14s %-20s %8.2f", F.col("s_name"), F.col("n_name"), F.col("s_acctbal")
            ).alias("report_line")
        )
    )


SINK_STDOUT_ORACLE = """
SELECT printf('%-14s %-20s %8.2f', s_name, n_name, s_acctbal) AS report_line
FROM supplier JOIN nation ON s_nationkey = n_nationkey
"""


# ---------------------------------------------------------------------------
# §2.2 remaining projections
# ---------------------------------------------------------------------------


def proj_graphql_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual column pruning — every reference query names only the
    fields it needs (`/root/reference/opentargets_client_api.py:26-40`).
    Spark-first: the select list IS the field list; Catalyst pushes
    it into the parquet ReadSchema (asserted in test_scale_posture)."""
    return load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")


PROJ_GRAPHQL_FIELDS_ORACLE = "SELECT l_orderkey, l_partkey FROM lineitem"


def proj_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop columns (`df.drop(...)` — `/root/reference/x2.3.py:278-279`)."""
    return load(spark, sf_dir, "customer").drop("c_acctbal", "c_nationkey")


PROJ_DROP_ORACLE = "SELECT c_custkey, c_name, c_mktsegment FROM customer"


# ---------------------------------------------------------------------------
# §2.11 workflow guards
# ---------------------------------------------------------------------------


def wf_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remote-scan pacing (1 rps `time.sleep(1)` —
    `/root/reference/x2.2.py:296-299,321-323`): a per-partition token
    bucket inside mapInPandas — the connector-side shape; the data
    passes through unchanged (oracle = identity), and the limiter is
    effectively unthrottled here so tests stay fast."""

    def limiter_fn(rate_per_sec: float):
        def limit(batches):
            import time  # noqa: PLC0415

            interval = 1.0 / rate_per_sec
            last = 0.0
            for pdf in batches:
                now = time.monotonic()
                wait = interval - (now - last)
                if wait > 0:
                    time.sleep(wait)
                last = time.monotonic()
                yield pdf

        return limit

    seed = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    fetch_keys = seed.select("c_custkey", "c_nationkey")
    return fetch_keys.mapInPandas(
        limiter_fn(rate_per_sec=1e6), schema="c_custkey long, c_nationkey int"
    )


WF_RATE_LIMIT_ORACLE = """
SELECT c_custkey, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


def wf_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QC step the reference only does manually (broader-disease
    contamination — `/root/reference/x2.2.py:270-273`): anti-join the
    result set against an ontology-ancestor exclusion table. Fixture
    analog: drop customers whose nation rolls up to an excluded
    region (region = the 'ancestor' level)."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    excluded_nations = (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("n_nationkey")
    )
    return customer.join(
        excluded_nations,
        customer.c_nationkey == excluded_nations.n_nationkey,
        "left_anti",
    ).select("c_custkey", "c_name", "c_nationkey")


WF_QUALITY_GATE_ORACLE = """
SELECT c_custkey, c_name, c_nationkey
FROM customer
WHERE c_nationkey NOT IN (
    SELECT n_nationkey FROM nation
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
)
"""


# ---------------------------------------------------------------------------
# §2.7/2.8/2.9 remaining singles
# ---------------------------------------------------------------------------


def agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain count edge attribute (`linkedTargets { count }` —
    `/root/reference/opentargets_client_api.py:82`)."""
    return load(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


AGG_COUNT_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY event_type
"""


def sort_remote_score_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The API's implicit score-desc ordering made explicit
    (`orderByScore` default — `/root/reference/opentargets.schema:262-268`):
    top-100 scored edges, unique tiebreaker."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


SORT_REMOTE_SCORE_DESC_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
"""


def topk_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rows[0]` under the remote ordering (first linked target —
    `/root/reference/x2.py:215`, `x2.3.py:201`): per-entity first
    edge by explicit (score desc, id) order — the deterministic form
    of the positional pick."""
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy("l_partkey").orderBy(
        F.desc("l_extendedprice"),
        F.asc("l_orderkey"),
        F.asc("l_linenumber"),
        # output-column tiebreak: lineitem is not (orderkey, linenumber)-
        # unique in the synthetic fixtures, and the surviving row's
        # l_suppkey is emitted — ties must be output-identical (§1.4)
        F.asc("l_suppkey"),
    )
    return (
        load(spark, sf_dir, "lineitem")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "l_orderkey", "l_suppkey", "l_extendedprice")
    )


TOPK_FIRST_ORACLE = """
SELECT l_partkey, l_orderkey, l_suppkey, l_extendedprice
FROM lineitem
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY l_partkey
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC,
             l_suppkey ASC) = 1
"""


def fn_str_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template substitution (`query.replace("TARGET_ID", id)` —
    `/root/reference/pathways_query.py:21`): bind a value into a
    template column."""
    template = F.lit("query { target(ensemblId: \"TARGET_ID\") { id } }")
    # F.replace (literal), NOT regexp_replace: a replacement Column in
    # regexp_replace interprets '$'/backslash as group references,
    # diverging from the reference's str.replace and the oracle
    return load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.replace(template, F.lit("TARGET_ID"), F.col("s_name")).alias("bound_query"),
    )


FN_STR_REPLACE_ORACLE = """
SELECT s_suppkey,
       replace('query { target(ensemblId: "TARGET_ID") { id } }', 'TARGET_ID', s_name) AS bound_query
FROM supplier
"""


def fn_str_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-template trim (`.strip()` —
    `/root/reference/opentargets_client_api.py:16`)."""
    return load(spark, sf_dir, "part").select(
        "p_partkey",
        F.trim(F.concat(F.lit("   "), F.col("p_name"), F.lit("\t "))).alias("stripped"),
    )


FN_STR_STRIP_ORACLE = r"""
SELECT p_partkey, trim('   ' || p_name || e'\t ') AS stripped FROM part
"""


def fn_json_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe dict navigation with defaults
    (`data.get("data", {}).get("drug", {})` —
    `/root/reference/opentargets_query_targets_for_drug.py:33`):
    json path + coalesce default."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.coalesce(
            F.get_json_object("props", "$.k").cast("int"), F.lit(-1)
        ).alias("k_or_default"),
        F.coalesce(
            F.get_json_object("props", "$.absent").cast("int"), F.lit(-1)
        ).alias("absent_or_default"),
    )


FN_JSON_GET_ORACLE = """
SELECT event_id,
       COALESCE(CAST(json_extract_string(props, '$.k') AS INTEGER), -1) AS k_or_default,
       COALESCE(CAST(json_extract_string(props, '$.absent') AS INTEGER), -1) AS absent_or_default
FROM events
"""


def udf_molecule_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 10-line extraction UDF with nested fallback
    (`get_molecule_type_and_name` —
    `/root/reference/chembl_to_molecule_type.py:16-26`), demoted to
    built-in `coalesce` over a nested struct (SURVEY §2.10: no UDF
    needed) — the pref_name / molecule_dictionary.pref_name shape."""
    part = load(spark, sf_dir, "part")
    molecules = part.select(
        F.col("p_partkey").alias("molecule_id"),
        F.when(F.col("p_partkey") % 3 == 0, F.col("p_name")).alias("pref_name"),
        F.struct(F.col("p_name").alias("pref_name")).alias("molecule_dictionary"),
    )
    return molecules.select(
        "molecule_id",
        F.coalesce(F.col("pref_name"), F.col("molecule_dictionary.pref_name")).alias("name"),
    )


UDF_MOLECULE_NAME_ORACLE = """
SELECT p_partkey AS molecule_id,
       COALESCE(CASE WHEN p_partkey % 3 = 0 THEN p_name END, p_name) AS name
FROM part
"""


SPECS = [
    QuerySpec("src_graphql_post", src_graphql_post, SRC_GRAPHQL_POST_ORACLE),
    QuerySpec("src_rest_get", src_rest_get, SRC_REST_GET_ORACLE),
    QuerySpec("filter_http_status", filter_http_status, FILTER_HTTP_STATUS_ORACLE),
    QuerySpec("catalog", catalog_scan, CATALOG_ORACLE),
    QuerySpec("paginate", paginate, PAGINATE_ORACLE),
    QuerySpec("sink_csv", sink_csv, SINK_CSV_ORACLE),
    QuerySpec("sink_stdout", sink_stdout, SINK_STDOUT_ORACLE),
    QuerySpec("proj_graphql_fields", proj_graphql_fields, PROJ_GRAPHQL_FIELDS_ORACLE),
    QuerySpec("proj_drop", proj_drop, PROJ_DROP_ORACLE),
    QuerySpec("wf_rate_limit", wf_rate_limit, WF_RATE_LIMIT_ORACLE),
    QuerySpec("wf_quality_gate", wf_quality_gate, WF_QUALITY_GATE_ORACLE),
    QuerySpec("agg_count", agg_count, AGG_COUNT_ORACLE),
    QuerySpec("sort_remote_score_desc", sort_remote_score_desc, SORT_REMOTE_SCORE_DESC_ORACLE),
    QuerySpec("topk_first", topk_first, TOPK_FIRST_ORACLE),
    QuerySpec("fn_str_replace", fn_str_replace, FN_STR_REPLACE_ORACLE),
    QuerySpec("fn_str_strip", fn_str_strip, FN_STR_STRIP_ORACLE),
    QuerySpec("fn_json_get", fn_json_get, FN_JSON_GET_ORACLE),
    QuerySpec("udf_molecule_name", udf_molecule_name, UDF_MOLECULE_NAME_ORACLE),
]


def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 Python DataSource API path for the reference's
    GraphQL scan (SURVEY §2.1 src_graphql_post: "…or Spark 4 Python
    DataSource API"): a registered custom source with driver-side
    partition planning (one response page per partition) and
    executor-side decoding — see
    database_scan_spark/sources/graphql_snapshot.py."""
    from ..sources.graphql_snapshot import (  # noqa: PLC0415
        make_datasource,
        materialize_pages,
    )

    pages_dir = workdir(sf_dir, "graphql_pages")
    materialize_pages(spark, sf_dir, pages_dir)
    # closure-built class: pickled by value, workers need no import
    register(spark, make_datasource())
    return spark.read.format("graphql_snapshot").option("path", pages_dir).load()


SRC_PYTHON_DATASOURCE_ORACLE = """
SELECT o_custkey AS entity_id, o_orderkey AS edge_id, o_totalprice AS score
FROM orders WHERE o_custkey < 50
"""

SPECS.append(
    QuerySpec(
        "src_python_datasource",
        src_python_datasource,
        SRC_PYTHON_DATASOURCE_ORACLE,
    )
)


def src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format breadth: ORC round-trip (Spark's second
    built-in columnar format after parquet — same pushdown/pruning
    machinery, ORC-stripe statistics instead of parquet footers).
    Writes the documents metadata once per (sf, op) scratch dir, then
    reads it back WITH a pushed filter and aggregates; the oracle runs
    the identical query on the original parquet, so a hash match
    proves the ORC write+read path is lossless."""
    path = workdir(sf_dir, "src_orc")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        (
            load(spark, sf_dir, "documents")
            .select("doc_id", "lang", "source", "n_chars")
            .write.mode("overwrite")
            .orc(path)
        )
    return (
        spark.read.orc(path)
        .filter(F.col("n_chars") >= 100)  # pushed into the ORC scan
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


SRC_ORC_ORACLE = """
SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE n_chars >= 100
GROUP BY lang, source
"""

SPECS.append(
    QuerySpec(
        "src_orc",
        src_orc,
        SRC_ORC_ORACLE,
    )
)


def src_federated_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated multi-format read — one logical table whose rows
    live in three physical formats (the lake reality: historical CSV
    dumps, an ORC era, current parquet). The supplier table is staged
    once as disjoint format shards (suppkey mod 3) and the query
    unions the three scans back into the full table; Catalyst pushes
    the filter into EACH format's scan independently. Oracle = the
    plain filtered table, proving the shards are disjoint-complete."""
    import os  # noqa: PLC0415

    from ..operators._helpers import workdir  # noqa: PLC0415

    base = workdir(sf_dir, "federated")
    sup = load(spark, sf_dir, "supplier")
    if not os.path.exists(os.path.join(base, "_DONE")):
        sup.filter(F.col("s_suppkey") % 3 == 0).write.mode("overwrite").parquet(
            os.path.join(base, "pq")
        )
        (
            sup.filter(F.col("s_suppkey") % 3 == 1)
            .write.mode("overwrite")
            .option("header", "true")
            .csv(os.path.join(base, "csv"))
        )
        sup.filter(F.col("s_suppkey") % 3 == 2).write.mode("overwrite").orc(
            os.path.join(base, "orc")
        )
        with open(os.path.join(base, "_DONE"), "w") as fh:
            fh.write("ok")
    schema = sup.schema
    pq = spark.read.schema(schema).parquet(os.path.join(base, "pq"))
    csv = (
        spark.read.schema(schema)
        .option("header", "true")
        .csv(os.path.join(base, "csv"))
    )
    orc = spark.read.schema(schema).orc(os.path.join(base, "orc"))
    cols = ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]
    return (
        pq.select(*cols)
        .unionByName(csv.select(*cols))
        .unionByName(orc.select(*cols))
        .filter(F.col("s_acctbal") >= 0)
    )


SRC_FEDERATED_UNION_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier WHERE s_acctbal >= 0
"""

SPECS.append(
    QuerySpec(
        "src_federated_union",
        src_federated_union,
        SRC_FEDERATED_UNION_ORACLE,
    )
)


def src_python_stream_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of the Python DataSource API surface: the
    reference's cursor-paged crawl loop
    (`/root/reference/opentargets_client_api.py:138-292`) as a live
    Structured Streaming source — each micro-batch consumes one
    response page, the checkpointed offset {"page": i} is the cursor,
    and failure recovery replays committed ranges through
    `readBetweenOffsets` (see sources/page_stream.py). Runs with
    `run_stream(per_offset=True)` (processing-time trigger +
    `processAllAvailable()`) so the page-per-batch cadence is real
    (availableNow prefetches and coalesces the whole backlog into one
    batch);
    tests/test_streaming.py asserts >= n_pages committed offsets in
    the checkpoint. The aggregate mirrors the batch twin's shape and
    hash-matches the same DuckDB oracle — stream/batch unification."""
    from ..sources.graphql_snapshot import materialize_pages  # noqa: PLC0415
    from ..sources.page_stream import make_page_stream_source  # noqa: PLC0415

    pages_dir = workdir(sf_dir, "graphql_pages")
    materialize_pages(spark, sf_dir, pages_dir)
    register(spark, make_page_stream_source())
    edges = spark.readStream.format("page_stream").option("path", pages_dir).load()
    agg = edges.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.col("score").cast("decimal(18,2)")).cast("double").alias("sum_score"),
    )
    sink = f"src_py_stream_{os.path.basename(os.path.normpath(sf_dir)).replace('.', '_')}"
    ckpt = os.path.join(workdir(sf_dir, "src_python_stream_datasource"), "checkpoint")
    run_stream(
        agg, ckpt, lambda w: w.format("memory").queryName(sink).outputMode("complete"),
        per_offset=True,
    )
    return spark.table(sink)


SRC_PYTHON_STREAM_DATASOURCE_ORACLE = """
SELECT o_custkey AS entity_id,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_score
FROM orders WHERE o_custkey < 50
GROUP BY o_custkey
"""

SPECS.append(
    QuerySpec(
        "src_python_stream_datasource",
        src_python_stream_datasource,
        SRC_PYTHON_STREAM_DATASOURCE_ORACLE,
    )
)


def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the Python DataSource API (batch writer with
    a real commit protocol — see sources/jsonl_sink.py): the
    entity-edge projection is written through the custom sink
    (executor-staged files, driver-side atomic commit + `_SUCCESS`
    manifest, abort-cleans-staging), then read back and returned, so
    the oracle hash-checks the full write→commit→read round trip.
    JSON float round-trip is exact (repr shortest-roundtrip)."""
    import shutil  # noqa: PLC0415

    from ..sources.graphql_snapshot import entity_edges  # noqa: PLC0415
    from ..sources.jsonl_sink import make_jsonl_sink  # noqa: PLC0415

    register(spark, make_jsonl_sink())
    out_dir = workdir(sf_dir, "sink_python_datasource")
    shutil.rmtree(out_dir, ignore_errors=True)  # fresh commit each run
    edges = entity_edges(spark, sf_dir)
    edges.write.format("edges_jsonl").option("path", out_dir).mode("append").save()
    assert os.path.exists(os.path.join(out_dir, "_SUCCESS"))
    return spark.read.schema("entity_id bigint, edge_id bigint, score double").json(
        os.path.join(out_dir, "part-*.jsonl")
    )


SINK_PYTHON_DATASOURCE_ORACLE = """
SELECT o_custkey AS entity_id, o_orderkey AS edge_id, o_totalprice AS score
FROM orders WHERE o_custkey < 50
"""

SPECS.append(
    QuerySpec(
        "sink_python_datasource",
        sink_python_datasource,
        SINK_PYTHON_DATASOURCE_ORACLE,
    )
)


def sink_csv_roundtrip_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect hardening: values containing the delimiter, the
    quote character, AND embedded newlines must survive a write→read
    round trip (RFC 4180 quoting; `multiLine` on the read side since
    records now span physical lines). The reference's CSV sink
    (`/root/reference/x2.2.py:331-336`) writes raw f-strings and
    would corrupt on the first comma — this op is the proof the
    engine's sink doesn't. Returned rows are the READ-BACK; the
    oracle reconstructs the expected values from `part`, so any
    quoting asymmetry breaks the hash."""
    import shutil  # noqa: PLC0415

    gnarly = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.concat(
            F.col("p_name"), F.lit(',"x"'), F.lit("\n"), F.col("p_brand")
        ).alias("tricky"),
        F.col("p_retailprice").alias("price"),
    )
    out_dir = workdir(sf_dir, "sink_csv_roundtrip_quoted")
    shutil.rmtree(out_dir, ignore_errors=True)
    gnarly.write.option("header", True).option("escape", '"').mode(
        "overwrite"
    ).csv(out_dir)
    return (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .schema("p_partkey bigint, tricky string, price double")
        .csv(out_dir)
    )


SINK_CSV_ROUNDTRIP_QUOTED_ORACLE = """
SELECT p_partkey,
       p_name || ',"x"' || chr(10) || p_brand AS tricky,
       p_retailprice AS price
FROM part
"""

SPECS.append(
    QuerySpec(
        "sink_csv_roundtrip_quoted",
        sink_csv_roundtrip_quoted,
        SINK_CSV_ROUNDTRIP_QUOTED_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# src_csv_corrupt_recovery — PERMISSIVE parse with corrupt-record capture
# ---------------------------------------------------------------------------


def src_csv_corrupt_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-CSV RECOVERY — the ingestion-robustness surface
    `src_json_permissive` provides for JSON, on the CSV path: rows
    with a type-failing field or a wrong column count parse in
    PERMISSIVE mode with the RAW LINE captured in the corrupt-record
    column, so bad input is quarantined with full fidelity instead of
    killing the job (FAILFAST) or vanishing (DROPMALFORMED).

    The fixture CSV is staged deterministically from nation —
    key%5==0 rows get a non-integer key ('bad<k>'), key%7==3 rows an
    extra field — via a distributed text write (no driver-side row
    handling). Observed-and-pinned recovery semantics: a type failure
    NULLs only the failing field (n_name survives), and BOTH
    corruption modes capture the verbatim line. The oracle
    re-derives every parsed field AND the raw corrupt line from the
    same staging rule, so the hash check pins the recovery contract."""
    path = workdir(sf_dir, "csv_corrupt")
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        nat = load(spark, sf_dir, "nation").select(
            F.when(
                F.col("n_nationkey") % 5 == 0,
                F.concat_ws(
                    ",",
                    F.concat(F.lit("bad"), F.col("n_nationkey")),
                    F.col("n_name"),
                ),
            )
            .when(
                F.col("n_nationkey") % 7 == 3,
                F.concat_ws(
                    ",", F.col("n_nationkey"), F.col("n_name"), F.lit("extra")
                ),
            )
            .otherwise(F.concat_ws(",", F.col("n_nationkey"), F.col("n_name")))
            .alias("value")
        )
        nat.coalesce(1).write.mode("overwrite").text(os.path.join(path, "data"))
        with open(marker, "w") as fh:
            fh.write("ok")
    return (
        spark.read.schema("n_key INT, n_name STRING, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(os.path.join(path, "data"))
        .select("n_key", "n_name", "_corrupt")
        .orderBy(F.coalesce("n_key", F.lit(-1)), "n_name")
    )


SRC_CSV_CORRUPT_RECOVERY_ORACLE = """
SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL
            ELSE CAST(n_nationkey AS INTEGER) END AS n_key,
       n_name,
       CASE WHEN n_nationkey % 5 = 0
            THEN 'bad' || n_nationkey || ',' || n_name
            WHEN n_nationkey % 7 = 3
            THEN n_nationkey || ',' || n_name || ',extra'
            END AS _corrupt
FROM nation
ORDER BY COALESCE(CASE WHEN n_nationkey % 5 = 0 THEN NULL
                       ELSE CAST(n_nationkey AS INTEGER) END, -1), n_name
"""

SPECS.append(
    QuerySpec(
        "src_csv_corrupt_recovery",
        src_csv_corrupt_recovery,
        SRC_CSV_CORRUPT_RECOVERY_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# sink_jsonl_roundtrip — the LLM-corpus interchange format
# ---------------------------------------------------------------------------


def sink_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-Lines export → re-ingest round trip for the documents
    table — JSONL is THE interchange format for LLM training corpora
    (one JSON object per line, splittable, appendable). The write
    partitions normally (each task emits one .json part file — at
    100 TB this is the layout an export actually has); the read back
    is schema-pinned (no inference scan) and must reproduce every
    field, including text containing quotes/newlines after JSON
    escaping. Returned rows are the READ-BACK; the oracle is the
    source table, so any escaping or type asymmetry breaks the hash."""
    import shutil  # noqa: PLC0415

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    out_dir = workdir(sf_dir, "sink_jsonl")
    shutil.rmtree(out_dir, ignore_errors=True)
    docs.write.mode("overwrite").json(out_dir)
    return spark.read.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).json(out_dir)


SINK_JSONL_ROUNDTRIP_ORACLE = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""

SPECS.append(
    QuerySpec(
        "sink_jsonl_roundtrip",
        sink_jsonl_roundtrip,
        SINK_JSONL_ROUNDTRIP_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# src_text_lines — line-oriented raw text ingestion
# ---------------------------------------------------------------------------


def src_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw line-oriented ingestion via ``spark.read.text`` — the
    entry point for the headerless TSV/one-record-per-line dumps web
    corpora arrive as. Stage (once): documents exported as
    ``doc_id\\ttext`` lines; read back as a `value` column and parsed
    with JVM split — schema-on-read over raw text, no inference. The
    oracle re-derives every parsed field from the source table, so a
    line-splitting or tab-escaping bug breaks the hash. Scale: text
    files split by line boundaries across tasks; the parse is a
    narrow codegen map."""
    import shutil  # noqa: PLC0415

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    stage_dir = workdir(sf_dir, "src_text_lines")
    if not os.path.exists(os.path.join(stage_dir, "_SUCCESS")):
        shutil.rmtree(stage_dir, ignore_errors=True)
        docs.select(
            F.concat_ws("\t", F.col("doc_id"), F.col("text")).alias("value")
        ).write.mode("overwrite").text(stage_dir)
    lines = spark.read.text(stage_dir)
    tab = F.instr(F.col("value"), "\t")
    return lines.select(
        F.substring(F.col("value"), 1, tab - 1).cast("bigint").alias("doc_id"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
        F.length("value").cast("bigint").alias("line_len"),
    )


SRC_TEXT_LINES_ORACLE = """
SELECT doc_id, text,
       CAST(length(CAST(doc_id AS VARCHAR) || chr(9) || text) AS BIGINT)
           AS line_len
FROM documents
"""

SPECS.append(
    QuerySpec(
        "src_text_lines",
        src_text_lines,
        SRC_TEXT_LINES_ORACLE,
    )
)
