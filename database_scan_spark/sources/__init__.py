"""Custom sources and sinks (Spark 4 Python DataSource API)."""

from __future__ import annotations

from pyspark.sql import SparkSession


def register(spark: SparkSession, source: type) -> None:
    """Register a Python DataSource class with ``spark``. Registering a
    name again in the same session replaces it. DATA_SOURCE_ALREADY_EXISTS
    is swallowed but not benign: it comes from a ``newSession()`` child
    of a session that registered the name, and that child cannot find the
    source either (DATA_SOURCE_NOT_FOUND at read or write, Spark 4.1.2).
    Anything else (not a DataSource, a pickling failure, a missing API)
    raises here, not later as a confusing DATA_SOURCE_NOT_FOUND."""
    try:
        spark.dataSource.register(source)
    except Exception as exc:
        msg = str(exc).lower()
        if "exists" not in msg and "already" not in msg:
            raise
