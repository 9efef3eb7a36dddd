"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``database_scan_spark``; this module is a
thin view over its query registry (``database_scan_spark/registry.py``).
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from database_scan_spark.registry import SPECS
from database_scan_spark.session import ENGINE_PERSISTS, release


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The 6-step candidate-entity traversal (reference spec at
    /root/reference/x2.2.py:238-247) over the fixture star schema —
    see database_scan_spark/plans/candidate_parts.py.
    """
    from database_scan_spark.plans.candidate_parts import candidate_parts

    return candidate_parts(spark, "/root/testdata/sf0.001")


# The engine's cache record (``session.persist`` appends to it); the
# name stays because callers read its length after a build.
_ENGINE_PERSISTS = ENGINE_PERSISTS
# Thread currently inside a wrapped query build (None when idle).
_BUILD_OWNER: int | None = None
_BUILD_LOCK = threading.Lock()


def _released(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Release the PREVIOUS query's cached intermediates on entry.

    Builders cache what they read more than once with
    ``session.persist``, which records the frame; a lazily returned
    DataFrame cannot unpersist behind itself. The driver runs queries
    strictly sequentially (collect, then next), so releasing the record
    on entry drops exactly the finished query's caches and bounds the
    session to at most one query's. A cache the caller made itself is
    never recorded, so it survives. Uncaching is plan-shape only: a
    released DataFrame recomputes correctly if read again. See
    SCALE.md "Cache lifecycle".

    - A nested entry (a ``queries()`` builder calling another) passes
      straight through, so it cannot release the outer query's live
      caches.
    - A SECOND thread entering while a build is in flight fails loud:
      the release cannot tell "finished previous query" from "live
      concurrent query", so the sequential contract is asserted rather
      than silently corrupted.
    """

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        global _BUILD_OWNER
        me = threading.get_ident()
        with _BUILD_LOCK:
            nested = _BUILD_OWNER == me
            if _BUILD_OWNER is not None and not nested:
                raise RuntimeError(
                    "queries() entries must run strictly sequentially: "
                    f"thread {me} entered while thread {_BUILD_OWNER} "
                    "is mid-build (see SCALE.md 'Cache lifecycle')"
                )
            _BUILD_OWNER = me
        if nested:
            return fn(spark, sf_dir)
        # the release sits inside the try: a BaseException escaping it
        # (KeyboardInterrupt in a blocking unpersist, say) must still
        # give up ownership, or every later query on this thread takes
        # the nested passthrough and the caches pile up
        try:
            release()
            return fn(spark, sf_dir)
        finally:
            with _BUILD_LOCK:
                _BUILD_OWNER = None

    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    return run


def drain() -> None:
    """Release the previous query's engine caches NOW.

    ``_released`` releases on the next query's entry, which is right
    for the sequential driver, but a caller that TIMES queries would
    then charge the previous query's unpersist cost to the next
    query's clock. Calling this between queries, outside the timed
    region, leaves the entry nothing to release. Safe when idle; loud
    if a build is in flight (the same sequential contract).
    """
    with _BUILD_LOCK:
        if _BUILD_OWNER is not None:
            raise RuntimeError(
                "drain() called while a query build is in flight on "
                f"thread {_BUILD_OWNER}"
            )
    release()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    north-star extension ops). Keys are SURVEY §2 Op ids."""
    return {s.name: _released(s.fn) for s in SPECS}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twin for every SQL-expressible query; non-SQL
    ops (streaming state, LSH internals) are omitted → rows-only."""
    return {s.name: s.oracle for s in SPECS if s.oracle is not None}
