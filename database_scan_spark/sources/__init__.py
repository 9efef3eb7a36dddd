"""Custom sources and sinks (Spark 4 Python DataSource API)."""

from __future__ import annotations

from pyspark.sql import SparkSession


def register(spark: SparkSession, source: type) -> None:
    """Register a Python DataSource class with ``spark``. The data-source
    queries register on every run, and a session made by ``newSession()``
    refuses a name its parent registered (DATA_SOURCE_ALREADY_EXISTS),
    so that case is benign; anything else (not a DataSource, a pickling
    failure, a missing API) raises here, not later as a confusing
    DATA_SOURCE_NOT_FOUND at read or write time."""
    try:
        spark.dataSource.register(source)
    except Exception as exc:
        msg = str(exc).lower()
        if "exists" not in msg and "already" not in msg:
            raise
