"""Scalar-function + UDF surface — SURVEY.md §2.9-2.10.

Everything the reference did with Python string/dict fiddling is a
built-in JVM expression here (whole-stage codegen, no Python in the
hot path); the one genuine UDF (`udf_smiles_canonical`,
`/root/reference/chembl_to_smile.py:39-48`) becomes an Arrow
pandas_udf whose result is still hash-checked against a SQL oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..catalog import load
from ..spec import QuerySpec


def fn_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preferred-value fallback (`pref_name` else nested fallback —
    `/root/reference/chembl_to_molecule_type.py:16-26`): the
    reference wrote a 10-line extraction function; Spark demotes it
    to `coalesce` (SURVEY §2.10 `udf_molecule_name`)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(
            F.get_json_object("props", "$.label"),  # absent → null
            F.col("event_type"),
        ).alias("label"),
    )


FN_COALESCE_ORACLE = """
SELECT event_id,
       COALESCE(json_extract_string(props, '$.label'), event_type) AS label
FROM events
"""


def fn_str_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width / 2-dp report formatting (`{symbol:8s} {score:0.2f}`
    — `/root/reference/candidate_drugs.py:112`, `x2.py:159`) as a
    single `format_string` expression (the `sink_stdout` shape)."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            F.format_string("%-20s %10.2f", F.col("n_name"), F.col("c_acctbal")).alias("line"),
        )
    )


FN_STR_FORMAT_ORACLE = """
SELECT c_custkey, printf('%-20s %10.2f', n_name, c_acctbal) AS line
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


def fn_str_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-op surface: replace/trim/lower/upper/substring/length
    (reference: `str.replace` templating `pathways_query.py:21`,
    `.strip()` `opentargets_client_api.py:16`)."""
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.trim(F.lit("  padded  ")).alias("trimmed"),
        F.substring("p_name", 1, 3).alias("prefix3"),
        F.length("p_name").cast("int").alias("name_len"),
    )


FN_STR_OPS_ORACLE = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       replace(p_name, ' ', '_') AS name_snake,
       trim('  padded  ') AS trimmed,
       substring(p_name, 1, 3) AS prefix3,
       CAST(length(p_name) AS INTEGER) AS name_len
FROM part
"""


def fn_date_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface (absent locally in the reference — SURVEY
    §2.9): truncate-to-month rollup of order totals."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_total"),
        )
    )


FN_DATE_OPS_ORACLE = """
SELECT date_trunc('month', o_orderdate) AS month,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders
GROUP BY 1, 2
"""


def fn_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface over tokenized text (arrays appear in the
    reference only inside API responses, e.g. `synonyms: [String!]!`
    `opentargets.schema:354-355`; the engine makes them first-class)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_unique_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.array_contains(toks, "spark").alias("mentions_spark"),
    )


FN_ARRAY_OPS_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique_tokens,
       string_split(text, ' ')[1] AS first_token,
       list_contains(string_split(text, ' '), 'spark') AS mentions_spark
FROM documents
"""


def fn_json_pretty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON re-serialization (`json.dumps` debug output —
    `/root/reference/query_opentargets.py:18-25`): `to_json(struct(...))`."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_json(F.struct("event_id", "event_type")).alias("payload"),
    )


FN_JSON_PRETTY_ORACLE = """
SELECT event_id,
       to_json(struct_pack(event_id := event_id, event_type := event_type)) AS payload
FROM events
"""


def _canonicalize_udf():
    @pandas_udf(T.StringType())
    def canon(s: pd.Series) -> pd.Series:
        """Arrow-batched canonicalization: lowercase, strip, collapse
        internal whitespace. The dependency-free analog of the RDKit
        canonical-SMILES round-trip (`chembl_to_smile.py:39-48`,
        SURVEY §7.3 #5) — same shape: normalize, then compare to input."""
        return s.str.lower().str.strip().str.replace(r"\s+", " ", regex=True)

    return canon


def udf_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's UDF path, proven end-to-end: a pandas_udf whose
    output is still SQL-expressible, so the DuckDB oracle hash-checks
    the Arrow round-trip itself (not just the transform)."""
    docs = load(spark, sf_dir, "documents")
    canon = _canonicalize_udf()(F.col("text"))
    return docs.select(
        "doc_id",
        canon.alias("canonical_text"),
        (F.col("text") == canon).alias("is_canonical"),
    )


UDF_CANONICALIZE_ORACLE = """
SELECT doc_id,
       lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS canonical_text,
       text = lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS is_canonical
FROM documents
"""


SPECS = [
    QuerySpec("fn_coalesce", fn_coalesce, FN_COALESCE_ORACLE),
    QuerySpec("fn_str_format", fn_str_format, FN_STR_FORMAT_ORACLE),
    QuerySpec("fn_str_ops", fn_str_ops, FN_STR_OPS_ORACLE),
    QuerySpec("fn_date_ops", fn_date_ops, FN_DATE_OPS_ORACLE),
    QuerySpec("fn_array_ops", fn_array_ops, FN_ARRAY_OPS_ORACLE),
    QuerySpec("fn_json_pretty", fn_json_pretty, FN_JSON_PRETTY_ORACLE),
    QuerySpec("udf_smiles_canonical", udf_canonicalize, UDF_CANONICALIZE_ORACLE),
]


def fn_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: per nation, supplier names joined
    in sorted order via the native `listagg .. WITHIN GROUP (ORDER BY)`
    (Spark 4.1) — the explicit order pins the result against Spark's
    nondeterministic row arrival (SURVEY §1.4 discipline; the
    collect_list+array_sort formulation this replaces did the same
    by hand); DuckDB's string_agg(... ORDER BY) is the twin."""
    supplier = load(spark, sf_dir, "supplier")
    return supplier.groupBy("s_nationkey").agg(
        F.expr("listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)").alias(
            "suppliers"
        ),
        F.count(F.lit(1)).alias("n_suppliers"),
    )


FN_STRING_AGG_ORACLE = """
SELECT s_nationkey,
       string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers
FROM supplier GROUP BY s_nationkey
"""

SPECS.append(
    QuerySpec("fn_string_agg", fn_string_agg, FN_STRING_AGG_ORACLE)
)


def fn_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: the reference's KeyValue/KeyValueArray
    annotations (``opentargets.schema:844-851``) map to Spark
    ``MapType`` (SURVEY §1.3). The events ``props`` JSON parses into
    a map<string,bigint> (``from_json`` — schema-on-read like the
    reference's dict navigation), then map functions derive scalars:
    cardinality, key lookup, sorted key list. All JVM expressions in
    one codegen span over the scan."""
    ev = load(spark, sf_dir, "events")
    # Parse as map<string,string> then cast the looked-up value: a
    # single non-integer value must not null the WHOLE map (it would
    # under map<string,bigint>), and size() is null-guarded so a
    # null/unparseable props row yields NULL like the oracle's
    # len(json_keys(...)) — not legacy sizeOfNull's -1.
    mp = F.from_json("props", "map<string,string>")
    return ev.select(
        "event_id",
        F.when(mp.isNotNull(), F.size(mp)).cast("int").alias("n_keys"),
        F.element_at(mp, "k").cast("bigint").alias("k_value"),
        F.array_join(F.array_sort(F.map_keys(mp)), ",").alias("keys_csv"),
    )


FN_MAP_OPS_ORACLE = """
SELECT event_id,
       CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
       array_to_string(list_sort(json_keys(props)), ',') AS keys_csv
FROM events
"""

SPECS.append(
    QuerySpec(
        "fn_map_ops",
        fn_map_ops,
        FN_MAP_OPS_ORACLE,
    )
)


def _median_cents_agg_fn():
    """GROUPED_AGG pandas UDF body (closure-wrapped for by-value
    pickling): exact median over integer cents — middle element, or
    the mean of the two middles (a half-integer, exactly
    representable in binary FP), so the result is deterministic and
    engine-portable."""
    @pandas_udf("double")
    def median_cents(v: pd.Series) -> float:
        s = v.sort_values().reset_index(drop=True)
        n = len(s)
        if n == 0:
            return float("nan")
        mid = n // 2
        if n % 2 == 1:
            return float(s[mid])
        return (float(s[mid - 1]) + float(s[mid])) / 2.0

    return median_cents


def udf_grouped_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the remaining cell of the Python-UDF
    API matrix (scalar pandas_udf, applyInPandas, mapInPandas,
    mapInArrow, UDTF, applyInPandasWithState,
    transformWithStateInPandas are all exercised elsewhere): a whole-group Arrow series reduces to one
    scalar per group inside Python. Median order price per priority
    class, computed over INTEGER CENTS so the exact-middle (or exact
    half-integer) result is order-independent and hash-matches
    DuckDB's median(). The plan shows ObjectHashAggregate with an
    ArrowEvalPython-backed aggregate — partial aggregation is NOT
    available for opaque Python aggregates, so at 100 TB this shape
    costs a full shuffle of the value column; use it for semantics
    SQL can't express, not for sums."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    med = _median_cents_agg_fn()
    return (
        orders.groupBy("o_orderpriority")
        .agg((med(F.col("cents")) / 100.0).alias("median_price"))
        .orderBy("o_orderpriority")
    )


UDF_GROUPED_AGG_MEDIAN_ORACLE = """
SELECT o_orderpriority,
       median(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS median_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

SPECS.append(
    QuerySpec(
        "udf_grouped_agg_median",
        udf_grouped_agg_median,
        UDF_GROUPED_AGG_MEDIAN_ORACLE,
    )
)


def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON via the Spark 4 VARIANT type — the modern
    engine path for the reference's ad-hoc ``json.loads`` dict
    fiddling (`/root/reference/opentargets_client_api.py:138-292`):
    parse ONCE into a binary variant, then typed-path extraction
    (`try_variant_get`), schema introspection (`schema_of_variant`),
    and error tolerance (`try_parse_json` → NULL, never a crashed
    job). A deterministic 1/97 slice of the input is corrupted
    in-flight to prove the tolerance path; the oracle reproduces the
    same slice with CASE. VARIANT's binary encoding is decoded once
    per row (vs re-parsing the JSON string per extraction with
    `get_json_object`), which is the cost model that matters when a
    100 TB corpus carries nested metadata on every row."""
    ev = load(spark, sf_dir, "events")
    raw = F.when(F.col("event_id") % 97 == 0, F.lit("{oops")).otherwise(F.col("props"))
    pv = F.try_parse_json(raw)
    return ev.select(
        "event_id",
        F.try_variant_get(pv, "$.k", "bigint").alias("k_val"),
        F.try_variant_get(pv, "$.absent", "string").alias("missing"),
        F.schema_of_variant(pv).alias("vschema"),
        pv.isNull().alias("corrupt"),
    )


FN_VARIANT_JSON_ORACLE = """
SELECT event_id,
       CASE WHEN event_id % 97 = 0 THEN NULL
            ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k_val,
       CAST(NULL AS VARCHAR) AS missing,
       CASE WHEN event_id % 97 = 0 THEN NULL
            ELSE 'OBJECT<k: BIGINT>' END AS vschema,
       event_id % 97 = 0 AS corrupt
FROM events
"""

SPECS.append(
    QuerySpec(
        "fn_variant_json",
        fn_variant_json,
        FN_VARIANT_JSON_ORACLE,
    )
)


def udf_arrow_map_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` — the last cell of the Python-execution API matrix
    (scalar pandas_udf, GROUPED_AGG, applyInPandas, mapInPandas, UDTF,
    applyInPandasWithState, transformWithStateInPandas are exercised
    elsewhere): the Python function receives raw Arrow RecordBatches
    and computes with pyarrow.compute kernels — no pandas conversion
    at either boundary, which is the cheapest possible Python hop for
    columnar numeric work (pandas round-trips copy + box; Arrow
    kernels run vectorized C++ on the shared buffers). Gross revenue
    per line item; IEEE-754 multiply is correctly rounded in every
    engine, so the doubles hash-match the oracle bit-for-bit."""

    def gross_batches(batches):
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.compute as pc  # noqa: PLC0415

        for batch in batches:
            gross = pc.multiply(
                batch.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), batch.column("l_discount")),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("l_orderkey"), batch.column("l_linenumber"), gross],
                names=["l_orderkey", "l_linenumber", "gross"],
            )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    return li.mapInArrow(
        gross_batches, "l_orderkey long, l_linenumber int, gross double"
    )


UDF_ARROW_MAP_BATCHES_ORACLE = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS gross
FROM lineitem
"""

SPECS.append(
    QuerySpec(
        "udf_arrow_map_batches",
        udf_arrow_map_batches,
        UDF_ARROW_MAP_BATCHES_ORACLE,
    )
)


def fn_collation_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware comparison (Spark 4 COLLATE) — case-insensitive
    equality as a TYPE property instead of lower() scattered through
    every predicate: a deterministic case-mangled copy of the customer
    names (upper for even keys, lower for odd) is counted distinct
    under binary collation vs UTF8_LCASE. The collated count collapses
    the case variants engine-side — the classic entity-resolution
    blocking key without rewriting expressions. Oracle models the
    collation with lower() (the UTF8_LCASE contract for ASCII)."""
    cust = load(spark, sf_dir, "customer")
    name = F.when(
        F.col("c_custkey") % 2 == 0, F.upper("c_name")
    ).otherwise(F.lower("c_name"))
    return (
        cust.select("c_mktsegment", name.alias("name"))
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("name").alias("distinct_binary"),
            F.countDistinct(F.collate("name", "UTF8_LCASE")).alias("distinct_ci"),
        )
    )


FN_COLLATION_COMPARE_ORACLE = """
WITH mangled AS (
    SELECT c_mktsegment,
           CASE WHEN c_custkey % 2 = 0 THEN upper(c_name) ELSE lower(c_name) END AS name
    FROM customer
)
SELECT c_mktsegment,
       CAST(COUNT(DISTINCT name) AS BIGINT) AS distinct_binary,
       CAST(COUNT(DISTINCT lower(name)) AS BIGINT) AS distinct_ci
FROM mangled GROUP BY c_mktsegment
"""


def fn_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML surface (Spark 4 to_xml/from_xml): each part row is
    serialized to an XML fragment and parsed back with a declared
    schema; the oracle selects the original columns, so the check
    proves the serialize→parse round trip is lossless (the ingestion
    contract for XML feeds — the one mainstream format the fixture
    set lacks natively)."""
    part = load(spark, sf_dir, "part")
    xml = part.select(
        "p_partkey",
        F.to_xml(F.struct("p_name", "p_brand", "p_size")).alias("xml"),
    )
    parsed = xml.select(
        "p_partkey",
        F.from_xml("xml", "p_name string, p_brand string, p_size int").alias("s"),
    )
    return parsed.select("p_partkey", "s.p_name", "s.p_brand", "s.p_size")


FN_XML_ROUNDTRIP_ORACLE = """
SELECT p_partkey, p_name, p_brand, p_size FROM part
"""


def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL construction + structured extraction (`parse_url`) — the
    REST-connector bookkeeping the reference does with f-strings
    (`/root/reference/chembl_to_smile.py:21-22` builds
    `molecule/{id}.json` URLs by hand): each order becomes its API
    URL, then host / path / query params are pulled back out as
    typed columns. The oracle re-derives the same parts with string
    arithmetic from the construction — an independent derivation
    because it never calls a URL parser."""
    orders = load(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://api.example.com/v1/orders/"),
        F.col("o_orderkey").cast("string"),
        F.lit("?cust="),
        F.col("o_custkey").cast("string"),
        F.lit("&status="),
        F.col("o_orderstatus"),
    )
    return orders.select(
        "o_orderkey",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("cust")).cast("bigint").alias("cust_param"),
        F.parse_url(url, F.lit("QUERY"), F.lit("status")).alias("status_param"),
    )


FN_URL_PARSE_ORACLE = """
SELECT o_orderkey,
       'api.example.com' AS host,
       '/v1/orders/' || CAST(o_orderkey AS VARCHAR) AS path,
       o_custkey AS cust_param,
       o_orderstatus AS status_param
FROM orders
"""

SPECS.extend(
    [
        QuerySpec(
            "fn_collation_compare",
            fn_collation_compare,
            FN_COLLATION_COMPARE_ORACLE,
        ),
        QuerySpec(
            "fn_xml_roundtrip",
            fn_xml_roundtrip,
            FN_XML_ROUNDTRIP_ORACLE,
        ),
        QuerySpec(
            "fn_url_parse",
            fn_url_parse,
            FN_URL_PARSE_ORACLE,
        ),
    ]
)


def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error tolerance via `try_*` expressions — the engine
    runs ANSI SQL (Spark 4 default: overflow/bad-cast/div-zero THROW
    instead of silently corrupting), and `try_divide`/`try_cast`/
    `try_add` are the per-expression opt-outs that turn a poison row
    into a NULL instead of a failed 100 TB job. Each column here has
    real failing rows in the fixture: division by zero where
    l_quantity = 45, a never-parses flag cast, and bigint overflow
    everywhere except l_orderkey = 0. The oracle reproduces the NULL
    contract with NULLIF/TRY_CAST/CASE."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 45).alias(
            "safe_ratio"
        ),
        F.try_to_binary(F.col("l_returnflag"), F.lit("base64")).isNotNull().alias(
            "flag_b64_ok"
        ),
        F.expr("try_cast(l_returnflag AS INT)").alias("flag_int"),
        F.try_add(F.lit(9223372036854775807), F.col("l_orderkey")).alias("near_ovf"),
    )


FN_TRY_ARITHMETIC_ORACLE = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice / NULLIF(l_quantity - 45, 0) AS safe_ratio,
       TRY_CAST(l_returnflag AS BLOB) IS NOT NULL AND length(l_returnflag) % 4 = 0
           AS flag_b64_ok,
       TRY_CAST(l_returnflag AS INTEGER) AS flag_int,
       CASE WHEN l_orderkey = 0 THEN 9223372036854775807 END AS near_ovf
FROM lineitem
"""

SPECS.append(
    QuerySpec(
        "fn_try_arithmetic",
        fn_try_arithmetic,
        FN_TRY_ARITHMETIC_ORACLE,
    )
)


def fn_interval_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic surface beyond `fn_date_ops`' trunc
    rollup: interval addition, day offsets, day diffs, month-end
    clamping (`add_months` and DuckDB month-interval addition share
    the clamp convention), and `last_day` — the due-date /
    SLA-bookkeeping family. All calendar arithmetic, no floats.
    (Spark's `months_between` is deliberately absent: its /31
    fractional convention has no DuckDB twin, so it can't be
    independently oracled.)"""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.col("o_orderdate").alias("d"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due"),
        # DATE results surface as timestamps so both engines' pandas
        # canonicalization agree (DuckDB dates arrive as datetime64)
        F.date_add(d, 30).cast("timestamp").alias("d30"),
        F.add_months(d, 1).cast("timestamp").alias("next_month_clamped"),
        F.datediff(F.lit("1999-01-01").cast("date"), d).cast("int").alias("days_to_99"),
        F.last_day(d).cast("timestamp").alias("eom"),
    )


FN_INTERVAL_OPS_ORACLE = """
SELECT o_orderkey, o_orderdate AS d,
       o_orderdate + INTERVAL 90 DAY AS due,
       CAST(o_orderdate AS DATE) + 30 AS d30,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month_clamped,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS INTEGER) AS days_to_99,
       last_day(CAST(o_orderdate AS DATE)) AS eom
FROM orders
"""

SPECS.append(
    QuerySpec(
        "fn_interval_ops",
        fn_interval_ops,
        FN_INTERVAL_OPS_ORACLE,
    )
)


def fn_lambda_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas as an explicit surface —
    transform / filter / exists / forall / aggregate (fold) — the
    §2.9 functional-collection story stated in one place (zip_with
    runs in the similarity dot products, transform inside the shingle
    builder). These execute INTERPRETED per element (no whole-stage
    codegen inside a lambda), which is why the hot paths
    (`_shingles`, minhash) prefer flat expressions where possible —
    but they stay JVM-side: still no Python, still pushdown-friendly.
    DuckDB's list lambdas are the oracle twins."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    lens = F.transform(toks, lambda t: F.length(t).cast("int"))
    return docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).cast("int").alias("n_long"),
        F.exists(toks, lambda t: t == F.lit("the")).alias("has_the"),
        F.forall(lens, lambda n: n < 50).alias("all_short"),
        F.aggregate(lens, F.lit(0).cast("bigint"), lambda acc, n: acc + n).alias("sum_len"),
        F.array_max(lens).alias("max_len"),
    )


FN_LAMBDA_OPS_ORACLE = """
SELECT doc_id,
       CAST(len(list_filter(string_split(text,' '), t -> length(t) > 4)) AS INTEGER) AS n_long,
       len(list_filter(string_split(text,' '), t -> t = 'the')) > 0 AS has_the,
       len(list_filter(string_split(text,' '), t -> length(t) >= 50)) = 0 AS all_short,
       CAST(list_sum(list_transform(string_split(text,' '), t -> length(t))) AS BIGINT) AS sum_len,
       CAST(list_max(list_transform(string_split(text,' '), t -> length(t))) AS INTEGER) AS max_len
FROM documents
"""

SPECS.append(
    QuerySpec(
        "fn_lambda_ops",
        fn_lambda_ops,
        FN_LAMBDA_OPS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# fn_column_protection — masking + AES column encryption surface
# ---------------------------------------------------------------------------

_AES_KEY = "0123456789abcdef"  # 128-bit demo key (a real deployment: KMS)


def fn_column_protection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-protection surface — the governance pair every PII
    pipeline needs: format-preserving MASKING (`mask()`: upper→X,
    lower→x, digit→n, punctuation kept) for display paths, and AES
    column ENCRYPTION (ECB here for determinism; GCM's random IV is
    the production mode) for storage paths, proven by an in-plan
    decrypt roundtrip. DuckDB has neither function, so the oracle
    checks what IS cross-engine checkable: the mask re-implemented as
    three character-class regex replaces (byte-identical on this
    surface), the roundtrip pinned TRUE, and the PKCS7 ciphertext
    length predicted exactly (⌊n/16⌋+1 blocks) — a padding or
    key-handling bug breaks the hash."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    enc = F.expr(
        f"aes_encrypt(c_name, '{_AES_KEY}', 'ECB')"
    )
    dec = F.expr(
        f"cast(aes_decrypt(aes_encrypt(c_name, '{_AES_KEY}', 'ECB'),"
        f" '{_AES_KEY}', 'ECB') as string)"
    )
    return cust.select(
        "c_custkey",
        F.expr("mask(c_name)").alias("masked_name"),
        dec.alias("decrypted"),
        (dec == F.col("c_name")).alias("roundtrip_ok"),
        F.length(enc).cast("int").alias("cipher_bytes"),
    ).orderBy("c_custkey")


FN_COLUMN_PROTECTION_ORACLE = """
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(
           c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
           '[0-9]', 'n', 'g') AS masked_name,
       c_name AS decrypted,
       TRUE AS roundtrip_ok,
       CAST((octet_length(encode(c_name)) // 16 + 1) * 16 AS INTEGER)
         AS cipher_bytes
FROM customer
WHERE c_custkey < 100
ORDER BY c_custkey
"""

SPECS.append(
    QuerySpec(
        "fn_column_protection",
        fn_column_protection,
        FN_COLUMN_PROTECTION_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# udf_scalar_iter — SCALAR_ITER pandas UDF (per-worker setup amortization)
# ---------------------------------------------------------------------------


def udf_scalar_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR_ITER pandas UDF — the last cell of the Python API
    matrix (scalar pandas_udf, GROUPED_AGG, applyInPandas,
    mapInPandas, mapInArrow, UDTF, and now the iterator form). The
    iterator variant exists for exactly one reason: one-time
    per-worker setup (model load, regex compile) amortized across
    every Arrow batch of the partition — here a compiled
    token-class regex counts word-shaped tokens per document, and
    the setup happens ONCE before the batch loop, visibly not per
    row. The oracle recomputes the counts with DuckDB's regex
    engine, so the amortized path is still hash-checked."""
    from pyspark.sql.functions import (  # noqa: PLC0415
        PandasUDFType,
        pandas_udf as _pudf,
    )

    # functionType stated explicitly: the iterator type hints cannot be
    # resolved from inside a closure (get_type_hints looks at module
    # globals), and the closure form is required by the engine's
    # by-value pickling rule (see verify SKILL gotchas).
    @_pudf("int", functionType=PandasUDFType.SCALAR_ITER)
    def word_shapes(batches):
        import re  # noqa: PLC0415 - worker-side

        pat = re.compile(r"[a-z]+[0-9]+")  # one-time per-worker setup
        for s in batches:
            yield s.map(lambda t: len(pat.findall(t))).astype("int32")

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", word_shapes(F.col("text")).alias("n_alnum_tokens")
    )


UDF_SCALAR_ITER_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+[0-9]+')) AS INTEGER)
           AS n_alnum_tokens
FROM documents
"""

SPECS.append(
    QuerySpec(
        "udf_scalar_iter",
        udf_scalar_iter,
        UDF_SCALAR_ITER_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# fn_sql_udf — SQL-defined function (Spark 4 CREATE FUNCTION ... RETURN)
# ---------------------------------------------------------------------------


def fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar function (Spark 4 SQL UDF: ``CREATE
    TEMPORARY FUNCTION … RETURNS … RETURN <expr>``) — the
    user-extension path that, unlike a Python UDF, stays ENTIRELY
    inside Catalyst: the body is inlined into the plan at resolution
    time, so it codegen-fuses, pushes down, and costs nothing at the
    Python boundary. Applied here as a tiered discounted-revenue
    band over lineitem; the oracle inlines the identical expression
    (which is exactly what Spark itself does — asserted in the plan
    audit: no Python eval node appears).

    The function name is sf-scoped and CREATE OR REPLACE'd so
    repeated driver calls in one session are idempotent (same
    discipline as param_bind's temp view)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_sqludf")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION rev_band(p DOUBLE, d DOUBLE) "
        "RETURNS STRING "
        "RETURN CASE WHEN p * (1.0 - d) >= 50000 THEN 'high' "
        "            WHEN p * (1.0 - d) >= 20000 THEN 'mid' "
        "            ELSE 'low' END"
    )
    return spark.sql(
        """
        SELECT rev_band(l_extendedprice, l_discount) AS band,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
                             AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS revenue
        FROM li_sqludf
        GROUP BY band
        ORDER BY band
        """
    )


FN_SQL_UDF_ORACLE = """
SELECT CASE WHEN l_extendedprice * (1.0 - l_discount) >= 50000 THEN 'high'
            WHEN l_extendedprice * (1.0 - l_discount) >= 20000 THEN 'mid'
            ELSE 'low' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
                     AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS revenue
FROM lineitem
GROUP BY band
ORDER BY band
"""

SPECS.append(
    QuerySpec(
        "fn_sql_udf",
        fn_sql_udf,
        FN_SQL_UDF_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# udf_window_pandas — GROUPED_AGG pandas UDF applied OVER a window
# (WindowInPandas: the one Python execution node the matrix lacked)
# ---------------------------------------------------------------------------

_WP_FRAME = 6  # current row + 6 preceding = 7-day rolling frame


def udf_window_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED_AGG pandas UDF reused OVER A WINDOW — Spark plans
    this as ``WindowInPandas``, the last Python execution node in the
    API matrix (aggregation usage is ``udf_grouped_agg_median``):
    a 7-day rolling exact median of daily purchase revenue. The
    Arrow transfer ships each frame to Python; the median kernel is
    the same closure, so aggregate and window usages can't drift.
    Like all opaque Python aggregates there is no partial
    aggregation — the window partition must co-locate, which the
    calendar-bounded daily relation trivially does; on a fact-sized
    partition you'd window on a bounded key instead."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents")
    )
    from pyspark.sql import Window  # noqa: PLC0415

    med = _median_cents_agg_fn()
    w = Window.orderBy("day").rowsBetween(-_WP_FRAME, Window.currentRow)
    rolled = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("cents"),
        (med(F.col("cents")).over(w) / 100.0).alias("rolling_median"),
        F.count(F.lit(1)).over(w).alias("frame_n"),
    )
    return rolled.filter(F.col("frame_n") == _WP_FRAME + 1).drop("frame_n")


UDF_WINDOW_PANDAS_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(round(value * 100)) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
rolled AS (
    SELECT day, cents,
           median(cents) OVER w / 100.0 AS rolling_median,
           COUNT(*) OVER w AS frame_n
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN {_WP_FRAME} PRECEDING
                 AND CURRENT ROW)
)
SELECT strftime(day, '%Y-%m-%d') AS day, cents, rolling_median
FROM rolled WHERE frame_n = {_WP_FRAME + 1}
"""

SPECS.append(
    QuerySpec(
        "udf_window_pandas",
        udf_window_pandas,
        UDF_WINDOW_PANDAS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# udf_arrow_python — Arrow-optimized plain Python UDF (useArrow=True)
# ---------------------------------------------------------------------------


def _slug_udf():
    """Closure factory (by-value pickling) for an Arrow-optimized
    PLAIN Python UDF — row-signature Python but Arrow batch
    transfer, the migration path for legacy @udf code that can't be
    vectorized. Kernel: URL-slug normalization of part names."""
    from pyspark.sql.functions import udf  # noqa: PLC0415

    @udf("string", useArrow=True)
    def slugify(name: str) -> str:
        if name is None:
            return None
        out = []
        prev_dash = False
        for ch in name.lower():
            if ch.isalnum():
                out.append(ch)
                prev_dash = False
            elif not prev_dash:
                out.append("-")
                prev_dash = True
        return "".join(out).strip("-")

    return slugify


def udf_arrow_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized plain Python UDF (``@udf(useArrow=True)``,
    Spark 3.5+): per-row function signature, Arrow batch transfer —
    the drop-in accelerator for legacy row UDFs and the last
    remaining cell of the Python-API matrix (vectorized pandas_udf,
    SCALAR_ITER, GROUPED_AGG, window, applyInPandas, mapInPandas,
    mapInArrow, UDTFs and the stateful streaming UDFs are all
    exercised elsewhere). Plans as ``ArrowEvalPython`` — NOT the
    banned row-pickling ``BatchEvalPython`` — which the engine-wide
    plan audit verifies over this query like every other. The oracle
    reimplements the slug kernel in SQL (lower → non-alnum runs →
    '-' → trim), so the Python and SQL normalizations must agree on
    every name."""
    slug = _slug_udf()
    parts = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    return parts.select(
        "p_partkey",
        slug(F.col("p_name")).alias("slug"),
    )


UDF_ARROW_PYTHON_ORACLE = """
SELECT p_partkey,
       trim(regexp_replace(lower(p_name), '[^a-z0-9]+', '-', 'g'), '-') AS slug
FROM part
"""

SPECS.append(
    QuerySpec(
        "udf_arrow_python",
        udf_arrow_python,
        UDF_ARROW_PYTHON_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# fn_uuid_deterministic — content-derived stable UUIDs (v5-style)
# ---------------------------------------------------------------------------

_UUID_NS = "database-scan-spark:doc:"  # namespace prefix (UUIDv5 analog)


def fn_uuid_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-derived UUIDs — the stable-ID minting
    every pipeline needs when upstream keys can't be trusted across
    reloads (UUIDv5 shape: name hashed under a namespace, version
    and variant bits patched in). Built from md5 hex with pure
    string surgery, so re-running on re-partitioned or re-ingested
    data mints the SAME ids — unlike ``uuid()``, which is
    nondeterministic by design and banned from hash-matched
    surfaces. The oracle performs the identical surgery in DuckDB;
    a drifting namespace, bit patch, or layout breaks every row."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    h = F.md5(F.concat(F.lit(_UUID_NS), F.col("text")))
    uuid5 = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(
            F.lit("a"),  # variant nibble pinned (10xx family)
            F.substring(h, 18, 3),
        ),
        F.substring(h, 21, 12),
    )
    return docs.select(
        "doc_id",
        uuid5.alias("content_uuid"),
        (F.length(uuid5) == 36).alias("well_formed"),
    )


FN_UUID_DETERMINISTIC_ORACLE = f"""
WITH h AS (
    SELECT doc_id, md5('{_UUID_NS}' || text) AS x FROM documents
)
SELECT doc_id,
       substring(x, 1, 8) || '-' || substring(x, 9, 4) || '-' ||
       '5' || substring(x, 14, 3) || '-' ||
       'a' || substring(x, 18, 3) || '-' || substring(x, 21, 12)
           AS content_uuid,
       length(substring(x, 1, 8) || '-' || substring(x, 9, 4) || '-' ||
              '5' || substring(x, 14, 3) || '-' ||
              'a' || substring(x, 18, 3) || '-' || substring(x, 21, 12)) = 36
           AS well_formed
FROM h
"""

SPECS.append(
    QuerySpec(
        "fn_uuid_deterministic",
        fn_uuid_deterministic,
        FN_UUID_DETERMINISTIC_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# udf_cogrouped_merge — cogrouped applyInPandas (the last Python-UDF cell)
# ---------------------------------------------------------------------------


def _cogrouped_merge_fn():
    """Cogrouped-map body (closure-wrapped for by-value pickling):
    both sides of one cogroup KEY arrive as SEPARATE pandas frames —
    the shape for custom merge logic no SQL join expresses
    (interleaved validation, per-side imputation, custom conflict
    rules). The key is a HASH BUCKET, not the entity id: one Python
    call then merges a whole bucket of customers against its bucket
    of orders VECTORIZED (pandas groupby + left merge), instead of
    paying per-call pandas-frame construction for every entity
    (measured at sf0.1: 46.9 s per-key vs ~3 s per-bucket — the
    difference between 150k one-row Python calls and 256 batch
    calls). Sums run over INTEGER CENTS so the result is
    row-order-independent."""

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import pandas as _pd  # noqa: PLC0415 - worker-side import

        if left.empty:  # orders in a bucket with no customers: drop
            return _pd.DataFrame(
                {
                    "c_custkey": _pd.Series(dtype="int64"),
                    "c_mktsegment": _pd.Series(dtype="object"),
                    "n_orders": _pd.Series(dtype="int64"),
                    "total_cents": _pd.Series(dtype="int64"),
                }
            )
        if len(right):
            r = (
                right.assign(
                    cents=(right["o_totalprice"] * 100)
                    .round()
                    .astype("int64")
                )
                .groupby("o_custkey", as_index=False)
                .agg(n_orders=("cents", "size"), total_cents=("cents", "sum"))
            )
        else:
            r = _pd.DataFrame(
                {
                    "o_custkey": _pd.Series(dtype="int64"),
                    "n_orders": _pd.Series(dtype="int64"),
                    "total_cents": _pd.Series(dtype="int64"),
                }
            )
        out = left[["c_custkey", "c_mktsegment"]].merge(
            r, left_on="c_custkey", right_on="o_custkey", how="left"
        )
        out["n_orders"] = out["n_orders"].fillna(0).astype("int64")
        out["total_cents"] = out["total_cents"].fillna(0).astype("int64")
        return out[["c_custkey", "c_mktsegment", "n_orders", "total_cents"]]

    return merge


def udf_cogrouped_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas`` — the one Python-UDF API cell the
    matrix (scalar pandas_udf, GROUPED_AGG, applyInPandas, mapInPandas,
    mapInArrow, UDTF, applyInPandasWithState, transformWithStateInPandas)
    did not yet exercise: ``dfA.groupBy(k).cogroup(dfB.groupBy(k))``
    hands BOTH sides of each key to one Python function as separate
    frames. Semantics here (per-customer order rollup, dimension row
    required) are deliberately join-expressible so DuckDB can
    hash-check the cogroup machinery itself.

    Plan/scale: one FlatMapCoGroupsInPandas with BOTH inputs shuffled
    on a 256-way HASH BUCKET of the entity key (co-partitioning is
    what cogroup needs; the bucket keeps per-call Python overhead
    amortized over thousands of entities — see _cogrouped_merge_fn).
    Still strictly heavier than the equivalent broadcast join + agg
    (no partial aggregation through opaque Python), which is the
    trade this op documents: use cogroup for merge logic SQL can't
    express, never for expressible rollups."""
    bucket = F.pmod(F.hash(F.col("k")), F.lit(256)).alias("bucket")
    cust = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"), "c_custkey", "c_mktsegment")
        .withColumn("bucket", bucket)
    )
    orders = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"), "o_custkey", "o_totalprice")
        .withColumn("bucket", bucket)
    )
    return (
        cust.groupBy("bucket")
        .cogroup(orders.groupBy("bucket"))
        .applyInPandas(
            _cogrouped_merge_fn(),
            schema="c_custkey long, c_mktsegment string, n_orders long, total_cents long",
        )
    )


UDF_COGROUPED_MERGE_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment,
       CAST(COUNT(o.o_custkey) AS BIGINT) AS n_orders,
       CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100), 0) AS BIGINT)
           AS total_cents
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_mktsegment
"""

SPECS.append(
    QuerySpec(
        "udf_cogrouped_merge",
        udf_cogrouped_merge,
        UDF_COGROUPED_MERGE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# proj_withfield — nested-struct surgery (withField / dropFields)
# ---------------------------------------------------------------------------


def proj_withfield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct column surgery: build a customer profile struct,
    then modify it IN PLACE with ``withField`` (recompute a nested
    score, add a tier field) and ``dropFields`` (redact the balance)
    — the Column API every deeply-nested schema (protobuf/Avro
    ingests) needs, distinct from the lambda surface (fn_lambda_ops)
    and flatten/explode (proj_flatten). All JVM struct expressions in
    one codegen span; the oracle rebuilds the same struct shape with
    DuckDB struct_pack/struct_insert semantics expressed as plain
    columns after the final flatten."""
    cust = load(spark, sf_dir, "customer")
    profile = F.struct(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("balance"),
        F.col("c_mktsegment").alias("segment"),
    )
    surgered = (
        cust.select("c_custkey", profile.alias("p"))
        .withColumn(
            "p",
            F.col("p").withField(
                "tier",
                F.when(F.col("p.balance") >= 5000, "gold")
                .when(F.col("p.balance") >= 0, "standard")
                .otherwise("delinquent"),
            ),
        )
        .withColumn(
            "p", F.col("p").withField("balance_sign", F.signum(F.col("p.balance")).cast("int"))
        )
        .withColumn("p", F.col("p").dropFields("balance"))
    )
    return surgered.select(
        "c_custkey",
        F.col("p.name").alias("name"),
        F.col("p.segment").alias("segment"),
        F.col("p.tier").alias("tier"),
        F.col("p.balance_sign").alias("balance_sign"),
    )


PROJ_WITHFIELD_ORACLE = """
SELECT c_custkey, c_name AS name, c_mktsegment AS segment,
       CASE WHEN c_acctbal >= 5000 THEN 'gold'
            WHEN c_acctbal >= 0 THEN 'standard'
            ELSE 'delinquent' END AS tier,
       CAST(sign(c_acctbal) AS INTEGER) AS balance_sign
FROM customer
"""

SPECS.append(
    QuerySpec(
        "proj_withfield",
        proj_withfield,
        PROJ_WITHFIELD_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# fn_timezone_ops — IANA timezone conversion surface
# ---------------------------------------------------------------------------


def fn_timezone_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion surface over the event stream: the naive
    UTC instants render as New York and Tokyo wall-clock strings
    (IANA zones — DST-correct shifts from the JVM tzdb, hash-checked
    against DuckDB's ICU implementation of the same zones), plus the
    local business hour and an off-hours flag per region — the
    normalize-to-local step every geo-distributed activity pipeline
    runs before per-market aggregation. All JVM datetime expressions,
    session-timezone-independent by construction (pure instant
    shifts, never a cast through the session zone)."""
    ev = load(spark, sf_dir, "events")
    ny = F.from_utc_timestamp("ts", "America/New_York")
    tokyo = F.from_utc_timestamp("ts", "Asia/Tokyo")
    return ev.select(
        "event_id",
        F.date_format(ny, "yyyy-MM-dd HH:mm:ss").alias("ny_local"),
        F.date_format(tokyo, "yyyy-MM-dd HH:mm:ss").alias("tokyo_local"),
        F.hour(ny).cast("int").alias("ny_hour"),
        ((F.hour(ny) < 9) | (F.hour(ny) >= 17)).alias("ny_off_hours"),
        F.hour(tokyo).cast("int").alias("tokyo_hour"),
    )


FN_TIMEZONE_OPS_ORACLE = """
SELECT event_id,
       strftime(timezone('America/New_York', timezone('UTC', ts)),
                '%Y-%m-%d %H:%M:%S') AS ny_local,
       strftime(timezone('Asia/Tokyo', timezone('UTC', ts)),
                '%Y-%m-%d %H:%M:%S') AS tokyo_local,
       CAST(hour(timezone('America/New_York', timezone('UTC', ts))) AS INTEGER)
           AS ny_hour,
       hour(timezone('America/New_York', timezone('UTC', ts))) < 9
           OR hour(timezone('America/New_York', timezone('UTC', ts))) >= 17
           AS ny_off_hours,
       CAST(hour(timezone('Asia/Tokyo', timezone('UTC', ts))) AS INTEGER)
           AS tokyo_hour
FROM events
"""

SPECS.append(
    QuerySpec(
        "fn_timezone_ops",
        fn_timezone_ops,
        FN_TIMEZONE_OPS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# fn_bitwise_ops — bitwise scalar + aggregate surface
# ---------------------------------------------------------------------------


def fn_bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression surface: shifts/AND/OR/XOR/bit_count as row
    scalars (packing a composite flag word — the trick behind bitmap
    indexes and `agg_bitmap_distinct`) plus the BIT_AND / BIT_OR /
    BIT_XOR aggregates per group. All JVM integer ops, one hash agg;
    bitwise aggregates are commutative/associative so Spark's
    unordered partial aggregation is exactly deterministic."""
    orders = load(spark, sf_dir, "orders")
    flags = (
        (F.col("o_custkey").bitwiseAND(F.lit(1023)))
        .bitwiseOR(F.shiftleft(F.col("o_orderkey") % 7, 10))
        .bitwiseXOR(F.shiftright(F.col("o_custkey"), 3))
    )
    return (
        orders.select(
            "o_orderpriority",
            flags.alias("flags"),
            F.bit_count(flags).alias("nbits"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.bit_and("flags").cast("bigint").alias("and_all"),
            F.bit_or("flags").cast("bigint").alias("or_all"),
            F.bit_xor("flags").cast("bigint").alias("xor_all"),
            F.sum("nbits").cast("bigint").alias("popcount_sum"),
        )
    )


FN_BITWISE_OPS_ORACLE = """
WITH f AS (
    SELECT o_orderpriority,
           xor((o_custkey & 1023) | ((o_orderkey % 7) << 10),
               o_custkey >> 3) AS flags
    FROM orders
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(bit_and(flags) AS BIGINT) AS and_all,
       CAST(bit_or(flags) AS BIGINT) AS or_all,
       CAST(bit_xor(flags) AS BIGINT) AS xor_all,
       CAST(SUM(bit_count(flags)) AS BIGINT) AS popcount_sum
FROM f
GROUP BY o_orderpriority
"""

SPECS.append(
    QuerySpec(
        "fn_bitwise_ops",
        fn_bitwise_ops,
        FN_BITWISE_OPS_ORACLE,
    )
)
