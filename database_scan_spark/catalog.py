"""Schema registry + snapshot-table catalog.

The reference's "catalog" is a 1,580-line GraphQL SDL file
(``/root/reference/opentargets.schema``) describing strongly-typed
remote entity/edge tables; its scripts consume them schema-on-read
(SURVEY.md §1.2). Here the catalog is explicit ``StructType``
constants over the fixture star schema, and tables are snapshot
parquet — exactly the shape the reference's own CSV-resume mode
materializes (``/root/reference/x2.2.py:249-256``).

Scale notes:

- Schemas are declared, not inferred: ``load`` reads every table but
  ``events`` with ``READ_SCHEMAS`` (``timestamp`` as ``timestamp_ntz``,
  what the fixtures' tz-naive ``timestamp[us]`` surfaces as), so a
  plan build starts no footer-read inference job per table.
- ``load`` is a plain parquet read so Catalyst keeps predicate
  pushdown / column pruning / partition pruning.
- Entity-graph mapping (SURVEY §7.0): customer≈disease, part≈drug,
  supplier≈target, orders+lineitem≈scored association edges,
  nation/region≈ontology dims, events≈activity stream,
  documents/embeddings≈LLM-pipeline columns.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


# ``load``'s read schemas: ``TABLES`` with ``timestamp`` read as
# ``timestamp_ntz``. ``events`` infers instead (see ``read_raw``).
READ_SCHEMAS = {
    name: T.StructType(
        [T.StructField(f.name, T.TimestampNTZType() if f.dataType == T.TimestampType() else f.dataType)
         for f in st.fields]
    )
    for name, st in TABLES.items()
    if name != "events"
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One snapshot table exactly as stored, with no normalisation.

    ``events.ts`` has shipped as TIMESTAMP(NANOS) in some fixture
    generations, which Spark's vectorized reader rejects unless
    ``nanosAsLong`` surfaces it as a raw long, and as TIMESTAMP(MICROS)
    in others (surfaced as TIMESTAMP_NTZ). This is the one place that
    sets the conf; it stays set, like ``load``'s other reader pins, so
    a stream over the same files reads them the same way.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(table_path(sf_dir, name))


def events_ts(raw_type: T.DataType) -> Column:
    """``events.ts`` as a session-zone microsecond TimestampType, from
    the raw type ``read_raw`` surfaces, so every downstream time
    computation (and the timezone-less DuckDB oracle) sees the same
    wall-clock values."""
    if isinstance(raw_type, T.LongType):
        # nanos fixture: micro-precision data, so div 1000 is lossless
        return F.expr("timestamp_micros(ts div 1000)")
    # micros fixture: arrives as TIMESTAMP_NTZ; same wall-clock under UTC
    return F.col("ts").cast(T.TimestampType())


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one snapshot table. Plain parquet read → pushdown-friendly.

    Tables but ``events`` read with ``READ_SCHEMAS``: no Spark job. A
    declared read would surface a column missing from the files as
    NULLs, so the footer's names are checked on the driver (pyarrow)
    and a missing one is dropped: a reference to it fails at analysis
    (``UNRESOLVED_COLUMN``), as under inference, and queries that never
    use it still run. A stored type wider than declared fails at the
    first action (``PARQUET_COLUMN_DATA_TYPE_MISMATCH``, naming the file).
    ``events`` (``ts`` differs by fixture generation) is ``read_raw``
    with ``ts`` normalised by ``events_ts``."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {sorted(TABLES)}")
    # Fixture timestamps are naive wall-clock values; every time
    # computation (date_trunc, window(), session_window) must agree
    # with the timezone-less oracle, so pin the session to UTC — a
    # runtime conf the engine may set even on a caller-owned session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Let AQE coalesce/re-plan persisted intermediates (off by
    # default). The engine's own session sets this too, but operators
    # also run inside CALLER-owned vanilla sessions (the driver
    # contract), where a pinned pre-AQE cache partitioning makes every
    # cached stage run shuffle.partitions tasks and blocks codegen
    # fusion around InMemoryTableScans — measured 30x on a cached
    # multi-consumer self-join (analytic_market_basket, sf0.01:
    # 26-37 s pinned vs 0.7-3.3 s with this conf). Runtime-settable,
    # plan-shape only; results are unaffected.
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    if name == "events":
        df = read_raw(spark, sf_dir, name)
        return df.withColumn("ts", events_ts(df.schema["ts"].dataType))
    path = table_path(sf_dir, name)
    df = spark.read.schema(READ_SCHEMAS[name]).parquet(path)
    import pyarrow.dataset as ds  # noqa: PLC0415

    stored = ds.dataset(path, format="parquet").schema.names
    missing = [c for c in READ_SCHEMAS[name].names if c not in stored]
    return df.drop(*missing) if missing else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view (``spark.sql`` access),
    mirroring the DuckDB oracle's pre-registered views."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
