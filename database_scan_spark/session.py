"""SparkSession factory with scale-appropriate defaults.

The engine targets a large multi-executor cluster; tests run on
``local[*]``. Every config below is cluster-meaningful, not a
local-mode hack:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast conversion — the reference's hand-rolled
  "dedup before the next fetch" / "filter before the hop" tricks
  (SURVEY.md §4) fall out of this for free.
- Arrow on: pandas UDFs and ``toPandas`` move columnar batches, not
  pickled rows.
- UTC session timezone: fixture timestamps are naive; keep Spark and
  the DuckDB oracle byte-identical.
- A generated-code cache that holds the working set: each generated
  class compiles once per session, not once per repeated query
  (``CODEGEN_CACHE_ENTRIES``; SCALE.md "Generated-code cache").

It also owns the session state a query leaves behind: confs
(``scoped_confs``), cached intermediates (``persist``/``release``) and
streaming runs (``run_stream``).
"""

from __future__ import annotations

import contextlib
import os
import shutil
from collections.abc import Callable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Entries of Spark's generated-class cache (an LRU, 100 by default).
# A pass of the 8 traversal queries compiles 132 classes, of the 9
# pipeline queries 202 and of the 107 bench headliners 2,117 (sf0.01),
# so at 100 a repeated pass evicts every class before its reuse and
# recompiles all of them (Janino, 12-19 ms each). About 2x the largest
# of these, so a repeated pass hits every class.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "database-scan-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``spark.sql.shuffle.partitions`` is a *default*, not a tuning
    crutch: with AQE coalescing enabled Spark shrinks small shuffles
    at runtime, and at 100 TB the value should be raised to
    ~2-3x total executor cores via this same knob.
    """
    n = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    master = os.environ.get("SPARK_MASTER", f"local[{DEFAULT_SHUFFLE_PARTITIONS}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce/re-plan persisted intermediates too (off by
        # default; without it every .persist() pins its pre-AQE
        # partitioning and tiny cached stages keep 32 tasks each)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep stdout machine-parseable: the driver captures a bounded
        # tail of bench.py's output, and [Stage …] progress bars would
        # interleave with (and truncate) the summary JSON line
        .config("spark.ui.showConsoleProgress", "false")
        # static conf: a caller-owned session keeps Spark's 100
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body of a ``with`` block.

    On exit, even when the body raises, each key gets back the value
    it had, or is unset if it had none. Queries run one after another
    in a shared caller-owned session (the driver contract), so a conf
    a query needs must not outlive it; ``catalog.load``'s reader pins
    are the only permanent ones.
    """
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_stream(
    df: DataFrame,
    checkpoint: str,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
    confs: Mapping[str, str] | None = None,
    *,
    resume: bool = False,
    per_offset: bool = False,
) -> None:
    """Run the streaming plan ``df`` to completion through the writer
    that ``sink`` configures (format or ``foreachBatch``, output mode,
    sink options). The only place in the package that starts a stream.

    - The checkpoint is cleared first, so each call is a fresh run;
      ``resume=True`` keeps it, to restart from its committed offsets.
    - ``spark.sql.shuffle.partitions`` is pinned to the session's
      ``defaultParallelism`` while the stream runs, with ``confs`` in
      the same ``scoped_confs`` window. A stateful stream freezes the
      count into its state-store layout at first start, and in a
      caller-owned vanilla session the default 200 means 200 state
      partitions (delta files and tasks) per stateful operator per
      micro-batch: fixed overhead at any data size. A fresh checkpoint
      has no layout to keep (a resumed one restores the count it
      recorded), no stream result depends on the count, and at cluster
      scale the session's own parallelism is the right default anyway.
    - The trigger is ``availableNow``. ``per_offset=True`` runs a
      processing-time trigger and ``processAllAvailable`` instead, so
      each source offset is its own micro-batch (``availableNow`` may
      coalesce the backlog into one).
    - The query is stopped in a ``finally``, also when it fails.

    SINGLE-QUERY-AT-A-TIME CONTRACT: the pin mutates the session-global
    conf, so a caller-owned session must not run other queries while a
    stream runs; the restore would race with them. That matches the
    driver contract (one registry query at a time per session). A
    multi-tenant session should serialize the streaming specs.
    """
    spark = df.sparkSession
    if not resume:
        shutil.rmtree(checkpoint, ignore_errors=True)
    pin = {"spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism)}
    with scoped_confs(spark, {**pin, **(confs or {})}):
        writer = sink(df.writeStream).option("checkpointLocation", checkpoint)
        if per_offset:
            q = writer.trigger(processingTime="0 seconds").start()
        else:
            q = writer.trigger(availableNow=True).start()
        try:
            if per_offset:
                q.processAllAvailable()
            else:
                q.awaitTermination()
        finally:
            q.stop()


# Frames the engine cached while building a query's plan, oldest
# first. Only ``persist`` adds to it, so a cache the caller made itself
# is never released by the engine.
ENGINE_PERSISTS: list[DataFrame] = []


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, recorded for the next ``release()``.

    A builder caches an intermediate it reads more than once, but a
    lazily returned result cannot unpersist behind itself. Queries run
    one after another in a shared session (the driver contract), so
    ``__spark_entry__`` releases the finished query's caches when the
    next query enters, or at ``drain()``. The only place in the package
    that calls ``.persist()``.
    """
    out = df.persist()
    ENGINE_PERSISTS.append(out)
    return out


def release() -> None:
    """Unpersist every recorded engine cache, newest first, and forget it."""
    while ENGINE_PERSISTS:
        df = ENGINE_PERSISTS.pop()
        try:
            df.unpersist()
        except Exception:  # session gone / already unpersisted
            pass


# Recommended configuration for a real multi-executor deployment at
# the 100 TB design point — documentation-as-code; get_spark() stays
# local-mode-friendly and the driver owns its own session anyway.
CLUSTER_PROFILE_100TB = {
    # 2-3x total executor cores; AQE coalesces down per-stage
    "spark.sql.shuffle.partitions": "8000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # scan granularity: ~256 MB splits keep task count sane on 100 TB
    "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
    # dims up to ~256 MB broadcast; beyond that AQE decides at runtime
    "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
    # Arrow batches for every pandas_udf/mapInPandas boundary
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # shuffle robustness at scale
    "spark.shuffle.service.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    # writers: size output files for the lake (~512 MB row groups)
    "spark.sql.files.maxRecordsPerFile": "20000000",
    # compile each generated class once per long-lived session, not
    # once per repeated query (get_spark's value)
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
}
