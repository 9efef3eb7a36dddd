"""Structured Streaming jobs over the events table — SURVEY.md §2.12
(extension scope: the reference has no streaming; the engine adds
watermarked windowed aggregation and custom stateful processing).

Each job is REAL streaming — ``readStream`` → transformation →
``writeStream`` with an ``availableNow`` trigger — executed to
completion into a memory sink so the query callable still returns a
DataFrame the harness can hash-check. The windowed jobs share their
window expressions with the batch ops in ``operators/windows.py``
(same `window()` / `session_window()` calls), so the semantics are
checked twice: batch vs DuckDB, and stream vs the same oracle.

Production shape notes (local fixtures stream one parquet file):

- source: a directory of arriving files / Kafka; here the snapshot
  parquet behind the same schema (raw ``ts`` is read and normalised
  by the same ``catalog.read_raw`` / ``catalog.events_ts`` as
  ``catalog.load``);
- sink: memory for the harness; parquet/Kafka + checkpointLocation
  in production — the checkpoint dir IS specified here so state
  recovery is exercised;
- output mode: complete for the windowed aggregations (the memory
  sink then holds exactly the batch-equivalent result); append +
  watermark is demonstrated in tests where late-data drops matter.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import READ_SCHEMAS, events_ts, load, read_raw, table_path
from ..operators._helpers import workdir
from ..session import run_stream
from ..sources import register
from ..spec import QuerySpec

# transformWithStateInPandas keeps state in per-variable column
# families, which only the RocksDB provider supports; a vanilla session
# defaults to HDFSBackedStateStore and throws
# STATE_STORE_MULTIPLE_COLUMN_FAMILIES.
_ROCKSDB = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
}


def _events_raw_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Raw schema as stored in parquet. ``ts`` has shipped both as
    TIMESTAMP(NANOS) and as TIMESTAMP(MICROS) across fixture
    generations — probe the batch reader's view of the footer
    (``catalog.read_raw``, which also readies the reader for the nanos
    generation) so the stream schema always matches the files."""
    ts_type = read_raw(spark, sf_dir, "events").schema["ts"].dataType
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw_schema = _events_raw_schema(spark, sf_dir)
    # FileStreamSource wants a *directory* of arriving files; expose the
    # snapshot through a symlink dir (zero-copy).
    src_dir = workdir(sf_dir, "events_stream_src")
    link = os.path.join(src_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(table_path(sf_dir, "events"), link)
    df = spark.readStream.schema(raw_schema).parquet(src_dir)
    return df.withColumn("ts", events_ts(raw_schema["ts"].dataType))


def _run_to_memory(
    df: DataFrame, sf_dir: str, name: str, mode: str, confs: dict[str, str] | None = None,
) -> DataFrame:
    """Execute a streaming plan to completion (availableNow) into a
    fresh memory sink + checkpoint dir through ``session.run_stream``
    (which pins the shuffle partitions and scopes ``confs``, e.g.
    ``_ROCKSDB``); return the sink table. The memory-sink compare is
    order-insensitive."""
    sink = f"{name}_{os.path.basename(os.path.normpath(sf_dir)).replace('.', '_')}"
    ckpt = os.path.join(workdir(sf_dir, name), "checkpoint")
    run_stream(df, ckpt, lambda w: w.format("memory").queryName(sink).outputMode(mode), confs)
    return df.sparkSession.table(sink)


def _read_batches(spark: SparkSession, root: str) -> DataFrame:
    """Every ``batch_id=N`` directory a ``foreachBatch`` sink wrote under
    ``root``, read with ``batch_id`` as a partition column."""
    batches = sorted(glob.glob(os.path.join(root, "batch_id=*")))
    return spark.read.option("basePath", root).parquet(*batches)


def _stage_arrivals(
    spark: SparkSession, sf_dir: str, table: str, conds: list[Column], src_dir: str
) -> None:
    """Stage ``table`` as one arrival file per filter in ``conds``
    (``{table}_{i}.parquet`` in ``src_dir``), mtimes ascending in list
    order: FileStreamSource orders arrivals by modification time, so
    ``_replay`` delivers them one micro-batch each, in that order.
    Idempotent (guarded by _SPLIT_OK)."""
    if os.path.exists(os.path.join(src_dir, "_SPLIT_OK")):
        return
    shutil.rmtree(src_dir, ignore_errors=True)
    rel = read_raw(spark, sf_dir, table)
    for i, cond in enumerate(conds):
        part = os.path.join(src_dir, f"part{i}")
        rel.filter(cond).coalesce(1).write.mode("overwrite").parquet(part)
        dst = os.path.join(src_dir, f"{table}_{i}.parquet")
        os.replace(glob.glob(os.path.join(part, "*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(part, ignore_errors=True)
    with open(os.path.join(src_dir, "_SPLIT_OK"), "w") as fh:
        fh.write("ok")


def _replay(spark: SparkSession, schema: T.StructType, src_dir: str) -> DataFrame:
    """The staged arrival files as a stream, one file per micro-batch."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window count/sum per event_type, executed
    as a real stream. Same window expression as the batch
    ``win_tumbling`` — and the same DuckDB oracle."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, sf_dir, "stream_tumbling", "complete")


STREAM_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start,
       time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS w_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap) per user as a real stream —
    `session_window` state merging under the streaming engine, same
    oracle as batch `win_session`."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, sf_dir, "stream_session", "complete")


STREAM_SESSION_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL '5 minutes'
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT user_id, ts, value,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '5 minutes' AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

_STATE_OUT_SCHEMA = "user_id long, n_events long, total_value double, max_value double"
_STATE_SCHEMA = "n long, cents long, mx double"


def _user_totals_fn():
    """Per-user running totals with explicit GroupState — the custom
    stateful operator shape (fraud counters, rate trackers, session
    enrichment) that windowed aggs can't express. Closure-wrapped so
    cloudpickle ships it by value (workers don't import this package).

    The money accumulator is kept in INTEGER CENTS inside the state
    (the fixture's ``value`` is exact 2-dp data, so ``round(v*100)``
    is lossless and far from any .5 tie) and divided once at emission:
    integer addition is order-independent, so the emitted total no
    longer depends on shuffle arrival order — the r5 change that made
    this spec oracle-able (the r4 rows-only contract blamed float
    accumulation order plus micro-batch boundaries; the other half is
    pinned by the final-state selection in the spec itself)."""

    def user_totals(
        key: tuple, batches: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd  # noqa: PLC0415 - worker-side import

        n, cents, mx = state.get if state.exists else (0, 0, float("-inf"))
        for pdf in batches:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, cents, mx))
        yield _pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
                "max_value": [mx],
            }
        )

    return user_totals


def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing: applyInPandasWithState over the
    event stream, one state row per user, returning the FINAL state
    per user.

    Oracled since r5 (it was the registry's last rows-only spec). The
    update-mode sink holds one cumulative row per user per micro-batch
    the user appeared in; ``n_events`` is strictly increasing across a
    user's emissions, so ``max_by(_, n_events)`` selects the final
    state deterministically REGARDLESS of where availableNow drew the
    batch boundaries — and the state's integer-cents accumulator (see
    ``_user_totals_fn``) removes the float-order dependence. The
    result is exactly the batch ``GROUP BY user_id`` aggregate, which
    is the plain-SQL oracle."""
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    ev = _events_stream(spark, sf_dir)
    out = ev.groupBy("user_id").applyInPandasWithState(
        _user_totals_fn(),
        outputStructType=_STATE_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_to_memory(out, sf_dir, "stream_stateful", "update")
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
        F.max_by("max_value", "n_events").alias("max_value"),
    )


STREAM_STATEFUL_USER_TOTALS_ORACLE = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
           AS total_value,
       MAX(value) AS max_value
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Custom stateful operator (transformWithStateInPandas, Spark 4 state API)
# ---------------------------------------------------------------------------

# The TWS driver worker speaks a protobuf protocol
# (pyspark/sql/streaming/proto/StateMessage_pb2). This container has no
# pip-installed google.protobuf — the historical "driver worker exited
# unexpectedly (crashed)" failure was exactly
#   ImportError: cannot import name 'descriptor' from 'google.protobuf'
# in transform_with_state_driver_worker.py. The repo VENDORS a
# pure-Python protobuf runtime (v6.32.0, Apache-2.0, .py modules only)
# under database_scan_spark/_vendor/pb_runtime (VERDICT r3 item 4 —
# previously the shim copied it out of a gcloud SDK path at runtime,
# an environment coupling). The StateMessage gencode was built by
# protoc 6.33, one minor ahead of the runtime; rather than patching the
# vendored source, the runtime's own documented escape hatch
# (TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK) is set for the worker.
# Both the package path and the env var travel via sc.environment —
# captured at plan-build time, so a VANILLA session needs no env prep.
# On a real cluster, ship the vendored dir with --py-files (or just
# pip-install protobuf); this shim is only the no-pip fallback.
_PB_VENDORED = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "_vendor",
    "pb_runtime",
)


def _ensure_tws_protobuf(spark: SparkSession) -> None:
    try:
        from google.protobuf import descriptor  # noqa: F401, PLC0415

        return  # a real runtime is importable; workers inherit it
    except ImportError:
        pass
    if not os.path.isdir(os.path.join(_PB_VENDORED, "google", "protobuf")):
        raise NotImplementedError(  # pragma: no cover - repo ships the dir
            "transformWithStateInPandas needs a google.protobuf runtime; "
            "none installed and the vendored copy is missing"
        )
    env = spark.sparkContext.environment
    env["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PB_VENDORED not in parts:
        env["PYTHONPATH"] = os.pathsep.join([_PB_VENDORED, *parts])


def _running_total_processor():
    """StatefulProcessor for transformWithStateInPandas. Defined in a
    closure factory so cloudpickle ships the class by value."""
    from pyspark.sql import types as _T  # noqa: PLC0415
    from pyspark.sql.streaming import StatefulProcessor  # noqa: PLC0415

    class RunningTotal(StatefulProcessor):
        def init(self, handle):
            self.state = handle.getValueState(
                "totals",
                _T.StructType(
                    [
                        _T.StructField("n", _T.LongType()),
                        _T.StructField("cents", _T.LongType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as _pd  # noqa: PLC0415 - worker-side import

            n, cents = (
                self.state.get() if self.state.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self.state.update((n, cents))
            yield _pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self):
            pass

    return RunningTotal()


def stream_stateful_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 arbitrary-state API (transformWithStateInPandas) over
    the event stream: one ValueState row per user holding (count,
    integer-cents total). Sums are kept in int64 cents so the result
    is order-independent — the whole pipeline is deterministic and the
    single availableNow batch emits exactly one row per user, giving a
    plain SQL oracle (the applyInPandasWithState twin
    ``stream_stateful_user_totals`` reaches the same determinism via
    integer-cents state plus final-state selection). Requires a google.protobuf runtime for the
    state-server protocol; ``_ensure_tws_protobuf`` stages one. TWS
    state lives in per-state-variable column families, which only the
    RocksDB provider supports — self-applied for this query and
    restored after (a vanilla session defaults to HDFSBackedStateStore
    and would throw STATE_STORE_MULTIPLE_COLUMN_FAMILIES)."""
    _ensure_tws_protobuf(spark)
    ev = _events_stream(spark, sf_dir).select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_running_total_processor(),
        outputStructType="user_id long, n_events long, total_cents long",
        outputMode="Update",
        timeMode="None",
    )
    return _run_to_memory(out, sf_dir, "stream_tws_totals", "update", _ROCKSDB)


STREAM_STATEFUL_RUNNING_TOTAL_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY user_id
"""


_TWS_RECENT_K = 3


def _recent_events_processor(k: int):
    """ListState processor: per-user bounded recent-event list.
    Keeps the k latest events by (ts_micros, event_id) — re-sorted on
    every update, so the result is independent of arrival order."""
    from pyspark.sql import types as _T  # noqa: PLC0415
    from pyspark.sql.streaming import StatefulProcessor  # noqa: PLC0415

    class RecentEvents(StatefulProcessor):
        def init(self, handle):
            self.state = handle.getListState(
                "recent",
                _T.StructType(
                    [
                        _T.StructField("ts_us", _T.LongType()),
                        _T.StructField("event_id", _T.LongType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as _pd  # noqa: PLC0415 - worker-side import

            items = [(r[0], r[1]) for r in self.state.get()]
            for pdf in rows:
                items.extend(
                    zip(pdf["ts_us"].astype(int), pdf["event_id"].astype(int))
                )
            items.sort(reverse=True)  # (ts, id) desc — deterministic
            items = items[:k]
            self.state.put([(int(t), int(e)) for t, e in items])
            yield _pd.DataFrame(
                {
                    "user_id": [key[0]] * len(items),
                    "rank": list(range(1, len(items) + 1)),
                    "event_id": [e for _, e in items],
                }
            )

        def close(self):
            pass

    return RecentEvents()


def stream_tws_recent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ListState flavor of the Spark 4 state API: each user's k most
    recent events (by event time, id tiebreak) held as bounded list
    state — the "recent activity" serving shape (fraud features,
    session context). The processor re-sorts on update, so the final
    emitted ranking is arrival-order independent and has an exact SQL
    oracle."""
    _ensure_tws_protobuf(spark)
    ev = _events_stream(spark, sf_dir).select(
        "user_id",
        (F.unix_micros(F.col("ts"))).alias("ts_us"),
        "event_id",
    )
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_recent_events_processor(_TWS_RECENT_K),
        outputStructType="user_id long, rank int, event_id long",
        outputMode="Update",
        timeMode="None",
    )
    return _run_to_memory(out, sf_dir, "stream_tws_recent", "update", _ROCKSDB)


STREAM_TWS_RECENT_EVENTS_ORACLE = f"""
SELECT user_id, CAST(rn AS INTEGER) AS rank, event_id
FROM (
    SELECT user_id, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
WHERE rn <= {_TWS_RECENT_K}
"""


def _type_counts_processor():
    """MapState processor: per-user map of event_type → running count.
    Emits the full map after each batch (single availableNow batch →
    one deterministic row per (user, type))."""
    from pyspark.sql import types as _T  # noqa: PLC0415
    from pyspark.sql.streaming import StatefulProcessor  # noqa: PLC0415

    class TypeCounts(StatefulProcessor):
        def init(self, handle):
            self.state = handle.getMapState(
                "type_counts",
                _T.StructType([_T.StructField("event_type", _T.StringType())]),
                _T.StructType([_T.StructField("n", _T.LongType())]),
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as _pd  # noqa: PLC0415 - worker-side import

            for pdf in rows:
                for et, n in pdf["event_type"].value_counts().items():
                    prev = (
                        self.state.getValue((et,))[0]
                        if self.state.containsKey((et,))
                        else 0
                    )
                    self.state.updateValue((et,), (prev + int(n),))
            out = sorted(
                ((k[0], v[0]) for k, v in self.state.iterator()),
            )
            yield _pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out),
                    "event_type": [t for t, _ in out],
                    "n_events": [n for _, n in out],
                }
            )

        def close(self):
            pass

    return TypeCounts()


def stream_tws_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapState flavor of the Spark 4 state API: per-user map of
    event_type → count, the per-entity feature-map shape (user
    activity profiles). Exact SQL oracle — counts are
    order-independent."""
    _ensure_tws_protobuf(spark)
    ev = _events_stream(spark, sf_dir).select("user_id", "event_type")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_type_counts_processor(),
        outputStructType="user_id long, event_type string, n_events long",
        outputMode="Update",
        timeMode="None",
    )
    return _run_to_memory(out, sf_dir, "stream_tws_types", "update", _ROCKSDB)


STREAM_TWS_TYPE_COUNTS_ORACLE = """
SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id, event_type
"""


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked sliding (hopping) window: 10-minute windows every 5
    minutes, so each event lands in exactly two windows. Spark fans
    the row out to its windows inside the stateful aggregation; the
    oracle replicates the epoch-aligned window-start set (bucket and
    bucket − slide) with unnest."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, sf_dir, "stream_sliding", "complete")


STREAM_SLIDING_ORACLE = """
SELECT w_start, w_start + INTERVAL '10 minutes' AS w_end, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM (
    SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                   time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'])
               AS w_start,
           event_type, value
    FROM events
)
GROUP BY 1, 2, 3
"""


SPECS = [
    QuerySpec("stream_tumbling", stream_tumbling, STREAM_TUMBLING_ORACLE),
    QuerySpec("stream_sliding", stream_sliding, STREAM_SLIDING_ORACLE),
    QuerySpec("stream_session", stream_session, STREAM_SESSION_ORACLE),
    QuerySpec(
        "stream_stateful_user_totals",
        stream_stateful_user_totals,
        STREAM_STATEFUL_USER_TOTALS_ORACLE,
    ),
    QuerySpec(
        "stream_stateful_running_total",
        stream_stateful_running_total,
        STREAM_STATEFUL_RUNNING_TOTAL_ORACLE,
    ),
    QuerySpec(
        "stream_tws_recent_events",
        stream_tws_recent_events,
        STREAM_TWS_RECENT_EVENTS_ORACLE,
    ),
    QuerySpec(
        "stream_tws_type_counts",
        stream_tws_type_counts,
        STREAM_TWS_TYPE_COUNTS_ORACLE,
    ),
]


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: watermarked dropDuplicates over the
    event stream — the streaming face of the engine's dedup theme
    (exactly-once event feeds dedup on an id + event-time key so
    state can be evicted once the watermark passes). The fixture ids
    are unique, so output ≡ input (the oracle) while the dedup state
    machinery runs for real."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = ev.dropDuplicates(["event_id", "ts"]).select(
        "event_id", "user_id", "event_type", "value"
    )
    return _run_to_memory(deduped, sf_dir, "stream_dedup", "append")


STREAM_DEDUP_ORACLE = """
SELECT event_id, user_id, event_type, value FROM events
"""

SPECS.append(
    QuerySpec(
        "stream_dedup",
        stream_dedup,
        STREAM_DEDUP_ORACLE,
    )
)


def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    same-user event pairs within 60 seconds, as TWO watermarked
    streams joined by the streaming engine (state kept only inside
    the watermark-bounded interval — the production shape for
    correlating two live feeds). Same semantics as the batch
    join_range_events, and the same DuckDB oracle."""
    left = (
        _events_stream(spark, sf_dir)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("event_a"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "10 minutes")
    )
    right = (
        _events_stream(spark, sf_dir)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("event_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "10 minutes")
    )
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("event_a") < F.col("event_b"))
        & (F.col("ts_b") >= F.col("ts_a") - F.expr("INTERVAL 60 seconds"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 60 seconds")),
    ).select(
        F.col("l_user").alias("user_id"),
        "event_a",
        "event_b",
        (F.abs(F.unix_micros("ts_a") - F.unix_micros("ts_b")) / 1_000_000.0).alias(
            "gap_seconds"
        ),
    )
    return _run_to_memory(joined, sf_dir, "stream_ss_join", "append")


STREAM_SS_JOIN_ORACLE = """
SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
       abs(epoch_us(a.ts) - epoch_us(b.ts)) / 1000000.0 AS gap_seconds
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60 * 1000000
"""

SPECS.append(
    QuerySpec(
        "stream_stream_interval_join",
        stream_stream_interval_join,
        STREAM_SS_JOIN_ORACLE,
    )
)


def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch idempotent sink: each micro-batch is written as
    parquet into a batchId-named directory (re-delivery of a batch
    overwrites the same path instead of duplicating — the standard
    exactly-once file-sink recipe when the target lacks transactions).
    The query returns the re-read of everything the sink wrote, so
    the oracle checks the SINKED data end to end."""
    out_root = os.path.join(workdir(sf_dir, "stream_fb_sink"), "data")
    shutil.rmtree(out_root, ignore_errors=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # deterministic per-batch path -> idempotent under re-delivery
        (
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out_root, f"batch_id={batch_id}")
            )
        )

    ev = _events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    ckpt = os.path.join(workdir(sf_dir, "stream_fb_sink"), "checkpoint")
    run_stream(ev, ckpt, lambda w: w.foreachBatch(write_batch))
    return _read_batches(spark, out_root).select("event_id", "user_id", "event_type", "value")


STREAM_FOREACH_BATCH_SINK_ORACLE = """
SELECT event_id, user_id, event_type, value FROM events
"""

SPECS.append(
    QuerySpec(
        "stream_foreach_batch_sink",
        stream_foreach_batch_sink,
        STREAM_FOREACH_BATCH_SINK_ORACLE,
    )
)


def stream_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental materialized-view maintenance — the
    streaming twin of ``wf_mv_incremental``: events arrive as FOUR
    separate files (split once by event_id range, maxFilesPerTrigger=1
    → four real micro-batches), and each ``foreachBatch`` merges the
    batch's per-user partial aggregate into a VERSIONED parquet view
    (read previous version ∪ batch partials → re-aggregate → write
    next version). No micro-batch ever rescans the event history —
    state lives in the view, counts add, DECIMAL sums add. The final
    version must equal the full-history aggregate (the oracle), which
    is exactly the invariant a production incremental pipeline
    monitors. Versioned directories double as the idempotence story:
    re-delivery of batch N rewrites version N, never duplicates."""
    root = workdir(sf_dir, "stream_mv_refresh")
    src_dir = os.path.join(root, "src")
    # modulo split: four deterministic arrival batches, no driver
    # materialization needed to find range bounds
    conds = [F.col("event_id") % 4 == i for i in range(4)]
    _stage_arrivals(spark, sf_dir, "events", conds, src_dir)

    mv_root = os.path.join(root, "mv")
    ckpt = os.path.join(root, "checkpoint")
    shutil.rmtree(mv_root, ignore_errors=True)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        partial = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_sum"),
        )
        versions = sorted(glob.glob(os.path.join(mv_root, "v*")))
        if versions:
            prev = sess.read.parquet(versions[-1])
            partial = (
                prev.unionByName(partial)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("value_sum")
                    .cast("decimal(18,2)")
                    .alias("value_sum"),
                )
            )
        partial.write.mode("overwrite").parquet(
            os.path.join(mv_root, f"v{batch_id:05d}")
        )

    stream = _replay(spark, _events_raw_schema(spark, sf_dir), src_dir).select(
        "user_id", "value"
    )
    run_stream(stream, ckpt, lambda w: w.foreachBatch(merge_batch))
    final = sorted(glob.glob(os.path.join(mv_root, "v*")))[-1]
    return spark.read.parquet(final).select(
        "user_id",
        "n_events",
        F.col("value_sum").cast("double").alias("value_sum"),
    )


STREAM_MV_REFRESH_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
GROUP BY user_id
"""

SPECS.append(
    QuerySpec(
        "stream_mv_refresh",
        stream_mv_refresh,
        STREAM_MV_REFRESH_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Event-time TIMERS (transformWithStateInPandas, timeMode="EventTime"):
# inactivity-flush sessions observed across MULTIPLE micro-batches.
# ---------------------------------------------------------------------------

_TWS_FLUSH_SPLIT = "2024-01-16 00:00:00"  # fixture events span Jan 2024
_TWS_FLUSH_GAP_S = 3600  # inactivity gap (whole-second timer granularity)


def _two_file_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, ts, ts_us) of the events table replayed as TWO
    arrival files split at ``_TWS_FLUSH_SPLIT`` (pre/post): two
    deterministic micro-batches, shared by the event-time-timer and
    processing-time-timer jobs so they all observe the same batch
    boundary."""
    raw_schema = _events_raw_schema(spark, sf_dir)
    nts = events_ts(raw_schema["ts"].dataType)
    src_dir = os.path.join(workdir(sf_dir, "stream_tws_flush"), "src")
    split = F.lit(_TWS_FLUSH_SPLIT).cast(T.TimestampType())
    _stage_arrivals(spark, sf_dir, "events", [nts < split, nts >= split], src_dir)
    return (
        _replay(spark, raw_schema, src_dir)
        .withColumn("ts", nts)
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
    )


def _inactivity_flush_processor(gap_s: int):
    """ValueState + event-time-timer processor: per-user open window
    (n, first_us, last_us). A window flushes when (a) a later batch
    brings events >= gap after its last event (arrival flush), or
    (b) its re-armed inactivity timer expires because the watermark
    advanced past last + gap (timer flush). Timer expiry is registered
    at whole-second granularity so the decision is reproducible in SQL;
    a stale timer (window since extended) is recognized by comparing
    the expiry against the CURRENT window's last_us and ignored, which
    makes the output independent of Spark's rows-vs-timers ordering
    within a batch."""
    from pyspark.sql import types as _T  # noqa: PLC0415
    from pyspark.sql.streaming import StatefulProcessor  # noqa: PLC0415

    class InactivityFlush(StatefulProcessor):
        def init(self, handle):
            self.handle = handle
            self.state = handle.getValueState(
                "win",
                _T.StructType(
                    [
                        _T.StructField("n", _T.LongType()),
                        _T.StructField("first_us", _T.LongType()),
                        _T.StructField("last_us", _T.LongType()),
                    ]
                ),
            )

        @staticmethod
        def _expiry_ms(last_us: int) -> int:
            return (last_us // 1_000_000 + gap_s) * 1000

        @staticmethod
        def _row(key, n, first_us, last_us):
            import pandas as _pd  # noqa: PLC0415 - worker-side import

            return _pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "first_us": [first_us],
                    "last_us": [last_us],
                }
            )

        def handleInputRows(self, key, rows, timer_values):
            gap_us = gap_s * 1_000_000
            bn, bfirst, blast = 0, None, None
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                bn += len(pdf)
                mn, mx = int(pdf["ts_us"].min()), int(pdf["ts_us"].max())
                bfirst = mn if bfirst is None else min(bfirst, mn)
                blast = mx if blast is None else max(blast, mx)
            if bn == 0:
                return
            if self.state.exists():
                n, first_us, last_us = self.state.get()
                if bfirst - last_us >= gap_us:
                    yield self._row(key, n, first_us, last_us)  # arrival flush
                    n, first_us, last_us = bn, bfirst, blast
                else:  # window extends across the batch boundary
                    n, first_us, last_us = (
                        n + bn, min(first_us, bfirst), max(last_us, blast)
                    )
            else:
                n, first_us, last_us = bn, bfirst, blast
            self.state.update((n, first_us, last_us))
            for t in list(self.handle.listTimers()):  # exactly one pending
                self.handle.deleteTimer(t)
            self.handle.registerTimer(self._expiry_ms(last_us))

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):  # noqa: N803 - worker passes camelCase kwargs
            if not self.state.exists():
                return
            n, first_us, last_us = self.state.get()
            if expiredTimerInfo.getExpiryTimeInMs() != self._expiry_ms(last_us):
                return  # stale timer: the window was extended/replaced
            yield self._row(key, n, first_us, last_us)
            self.state.clear()

        def close(self):
            pass

    return InactivityFlush()


def stream_tws_inactivity_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time TIMERS on the Spark 4 state API, observed across
    REAL micro-batches: events are staged as a pre-split and a
    post-split arrival file (maxFilesPerTrigger=1, availableNow).
    Batch 2 runs with batch 1's watermark (max pre-split event time,
    delay 0), so the inactivity timers armed in batch 1 expire for
    users silent since >gap before it, and users whose first post-split
    event lands >=gap after their open window trigger an arrival flush.
    The engine then runs a trailing NO-DATA batch (default
    spark.sql.streaming.noDataMicroBatches.enabled) with the final
    watermark, expiring the still-armed timers of the remaining open
    windows — only windows ending within gap of the global max event
    time stay open (and unemitted). Every branch is deterministic, so
    the memory-sink content has an exact SQL oracle reproducing the
    batch-by-batch watermark sequence (emit1/emit2 CTEs)."""
    _ensure_tws_protobuf(spark)
    ev = _two_file_events(spark, sf_dir).withWatermark("ts", "0 seconds")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_inactivity_flush_processor(_TWS_FLUSH_GAP_S),
        outputStructType="user_id long, n_events long, first_us long, last_us long",
        outputMode="Append",
        timeMode="EventTime",
    )
    sink = _run_to_memory(out, sf_dir, "stream_tws_flush", "append", _ROCKSDB)
    return sink.select(
        "user_id",
        "n_events",
        F.timestamp_micros("first_us").alias("first_ts"),
        F.timestamp_micros("last_us").alias("last_ts"),
    )


STREAM_TWS_INACTIVITY_FLUSH_ORACLE = f"""
WITH h1 AS (SELECT user_id, ts FROM events WHERE ts < TIMESTAMP '{_TWS_FLUSH_SPLIT}'),
h2 AS (SELECT user_id, ts FROM events WHERE ts >= TIMESTAMP '{_TWS_FLUSH_SPLIT}'),
w1 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n1, min(ts) AS f1, max(ts) AS l1 FROM h1 GROUP BY user_id),
w2 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n2, min(ts) AS f2, max(ts) AS l2 FROM h2 GROUP BY user_id),
wm1 AS (SELECT epoch_us(max(ts)) // 1000 AS ms FROM h1),
wm2 AS (SELECT epoch_us(max(ts)) // 1000 AS ms FROM events),
u AS (
  SELECT COALESCE(w1.user_id, w2.user_id) AS user_id, n1, f1, l1, n2, f2, l2,
         w1.user_id IS NOT NULL AS has1, w2.user_id IS NOT NULL AS has2,
         (w2.user_id IS NOT NULL AND w1.user_id IS NOT NULL
          AND epoch_us(f2) - epoch_us(l1) >= CAST({_TWS_FLUSH_GAP_S} AS BIGINT)*1000000) AS arrival,
         -- <= not <: TimerStateImpl expires timers with
         -- timerTs <= watermark (same boundary as the eventtime
         -- oracle below)
         (w1.user_id IS NOT NULL AND w2.user_id IS NULL
          AND (epoch_us(l1)//1000000 + {_TWS_FLUSH_GAP_S})*1000 <= (SELECT ms FROM wm1)) AS timer1
  FROM w1 FULL JOIN w2 USING (user_id)
),
emit1 AS (  -- W1 windows flushed during the second data batch
  SELECT user_id, n1 AS n_events, f1 AS first_ts, l1 AS last_ts
  FROM u WHERE arrival OR timer1
),
fin AS (    -- the per-user window still open after the second batch
  SELECT user_id,
         CASE WHEN has2 AND has1 AND NOT arrival AND NOT timer1 THEN n1 + n2
              WHEN has2 THEN n2
              WHEN NOT timer1 THEN n1 END AS n_events,
         CASE WHEN has2 AND has1 AND NOT arrival AND NOT timer1 THEN f1
              WHEN has2 THEN f2
              WHEN NOT timer1 THEN f1 END AS first_ts,
         CASE WHEN has2 THEN l2 WHEN NOT timer1 THEN l1 END AS last_ts
  FROM u
),
emit2 AS (  -- flushed by the trailing no-data batch's advanced watermark
  SELECT user_id, n_events, first_ts, last_ts FROM fin
  WHERE n_events IS NOT NULL
    AND (epoch_us(last_ts)//1000000 + {_TWS_FLUSH_GAP_S})*1000 <= (SELECT ms FROM wm2)
)
SELECT * FROM emit1 UNION ALL SELECT * FROM emit2
"""

SPECS.append(
    QuerySpec(
        "stream_tws_inactivity_flush",
        stream_tws_inactivity_flush,
        STREAM_TWS_INACTIVITY_FLUSH_ORACLE,
    )
)


def _proctime_snapshot_processor():
    """ProcessingTime-timer processor: on a key's FIRST appearance,
    freeze (n_first, first_us) from that batch's rows and arm a
    processing-time timer at the CURRENT processing time — expiry ≤
    batch timestamp, so the engine fires it in the same micro-batch,
    after input processing (Spark processes expired timers after the
    batch's input rows). ``handleExpiredTimer`` emits the frozen
    snapshot exactly once (``fired`` flag) and deletes the timer.
    Because the payload is frozen at registration, the emission is
    byte-identical no matter WHICH batch the timer happens to fire in
    — wall clock decides only THAT it fires, which is the lifecycle
    under test (register → expire → emit → delete in ProcessingTime
    timeMode)."""
    from pyspark.sql import types as _T  # noqa: PLC0415
    from pyspark.sql.streaming import StatefulProcessor  # noqa: PLC0415

    class ProcTimeSnapshot(StatefulProcessor):
        def init(self, handle):
            self.handle = handle
            self.state = handle.getValueState(
                "snap",
                _T.StructType(
                    [
                        _T.StructField("n_first", _T.LongType()),
                        _T.StructField("first_us", _T.LongType()),
                        _T.StructField("fired", _T.LongType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timer_values):
            if not self.state.exists():
                n, first_us = 0, None
                for pdf in rows:
                    if len(pdf) == 0:
                        continue
                    n += len(pdf)
                    mn = int(pdf["ts_us"].min())
                    first_us = mn if first_us is None else min(first_us, mn)
                if n > 0:
                    self.state.update((n, first_us, 0))
                    self.handle.registerTimer(
                        timer_values.getCurrentProcessingTimeInMs()
                    )
            yield from ()

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):  # noqa: N803 - worker passes camelCase kwargs
            import pandas as _pd  # noqa: PLC0415 - worker-side import

            if self.state.exists():
                n, first_us, fired = self.state.get()
                if not fired:
                    self.state.update((n, first_us, 1))
                    yield _pd.DataFrame(
                        {
                            "user_id": [key[0]],
                            "n_first": [n],
                            "first_us": [first_us],
                        }
                    )
            self.handle.deleteTimer(expiredTimerInfo.getExpiryTimeInMs())

        def close(self):
            pass

    return ProcTimeSnapshot()


def stream_tws_proctime_timer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROCESSING-time timers on the Spark 4 state API (the twin of
    ``stream_tws_inactivity_flush``'s event-time timers, closing
    ROADMAP "Next steps" #3): same two-file arrival split, but
    timeMode="ProcessingTime" — each key's first-sight batch arms a
    timer at the current processing time and its fire emits the
    snapshot frozen at registration (count + min event time within
    the key's FIRST arrival file), so the output has an exact SQL
    oracle over the same split even though fire TIMING is wall-clock.

    Engine behavior discovered here and relied upon: with
    ``noDataMicroBatches`` enabled (default), availableNow +
    ProcessingTime timeMode NEVER terminates — the engine keeps
    scheduling empty batches as wall-clock advances (measured 280+
    no-data batches before we killed it), because unlike event time
    the processing-time domain never runs out. The conf is therefore
    disabled for THIS query and restored after; termination then
    follows the last data batch, and every timer has already fired
    in its registration batch (expiry ≤ batch timestamp)."""
    _ensure_tws_protobuf(spark)
    ev = _two_file_events(spark, sf_dir).select("user_id", "ts_us")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_proctime_snapshot_processor(),
        outputStructType="user_id long, n_first long, first_us long",
        outputMode="Append",
        timeMode="ProcessingTime",
    )
    sink = _run_to_memory(
        out, sf_dir, "stream_tws_proctime", "append",
        {**_ROCKSDB, "spark.sql.streaming.noDataMicroBatches.enabled": "false"},
    )
    return sink.select(
        "user_id", "n_first", F.timestamp_micros("first_us").alias("first_ts")
    )


STREAM_TWS_PROCTIME_TIMER_ORACLE = f"""
-- one row per user: count + min ts within the user's FIRST arrival
-- file (pre-split if the user has any pre-split events, else post)
WITH h1 AS (
    SELECT user_id, ts FROM events WHERE ts < TIMESTAMP '{_TWS_FLUSH_SPLIT}'
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_first, min(ts) AS first_ts
FROM h1 GROUP BY user_id
UNION ALL
SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_first, min(e.ts) AS first_ts
FROM events e
WHERE NOT EXISTS (SELECT 1 FROM h1 WHERE h1.user_id = e.user_id)
GROUP BY e.user_id
"""

SPECS.append(
    QuerySpec(
        "stream_tws_proctime_timer",
        stream_tws_proctime_timer,
        STREAM_TWS_PROCTIME_TIMER_ORACLE,
    )
)


# SLA tiers for the event-time deadline twin: 13 + (user_id % 5) * 4
# days past the key's first event. Chosen against the fixture's shape
# (first events Jan 1-4, batch split Jan 16, max event Jan 30) so every
# lifecycle path occurs at every SF: tier-13 deadlines straddle the
# batch-2 watermark (mid-stream fires AND trailing-batch fires),
# tier-29+ deadlines straddle/exceed the final watermark (trailing
# fires AND never-fires).
_TWS_SLA_BASE_DAYS = 13
_TWS_SLA_STEP_DAYS = 4
_TWS_SLA_TIERS = 5


def _eventtime_deadline_processor(base_days: int, step_days: int, tiers: int):
    """Event-time-timer processor — the minimal register → watermark
    fire → emit → delete lifecycle (the EventTime twin of
    ``_proctime_snapshot_processor``): a key's FIRST-sight batch
    freezes (n_first, first_us) and arms ONE timer at the key's SLA
    deadline (first event + tiered days, whole-millisecond). The
    timer fires in the first batch whose watermark has passed the
    deadline — possibly the trailing no-data batch — and emits the
    frozen snapshot exactly once (state cleared on fire). Keys whose
    deadline outlives the final watermark never emit. Payload frozen
    at registration ⇒ output independent of WHICH batch fires,
    depends only on WHETHER the final watermark passed the deadline —
    exactly SQL-reproducible."""
    from pyspark.sql import types as _T  # noqa: PLC0415
    from pyspark.sql.streaming import StatefulProcessor  # noqa: PLC0415

    class EventTimeDeadline(StatefulProcessor):
        def init(self, handle):
            self.handle = handle
            self.state = handle.getValueState(
                "snap",
                _T.StructType(
                    [
                        _T.StructField("n_first", _T.LongType()),
                        _T.StructField("first_us", _T.LongType()),
                        _T.StructField("deadline_ms", _T.LongType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timer_values):
            if not self.state.exists():
                n, first_us = 0, None
                for pdf in rows:
                    if len(pdf) == 0:
                        continue
                    n += len(pdf)
                    mn = int(pdf["ts_us"].min())
                    first_us = mn if first_us is None else min(first_us, mn)
                if n > 0:
                    sla_days = base_days + (int(key[0]) % tiers) * step_days
                    deadline_ms = (
                        first_us // 1_000_000 + sla_days * 86_400
                    ) * 1000
                    self.state.update((n, first_us, deadline_ms))
                    self.handle.registerTimer(deadline_ms)
            yield from ()

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):  # noqa: N803 - worker passes camelCase kwargs
            import pandas as _pd  # noqa: PLC0415 - worker-side import

            if self.state.exists():
                n, first_us, deadline_ms = self.state.get()
                yield _pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_first": [n],
                        "first_us": [first_us],
                        "deadline_ms": [deadline_ms],
                    }
                )
                self.state.clear()
            self.handle.deleteTimer(expiredTimerInfo.getExpiryTimeInMs())

        def close(self):
            pass

    return EventTimeDeadline()


def stream_tws_eventtime_timer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-time timers on the Spark 4 state API — the watermark-
    driven twin of ``stream_tws_proctime_timer`` (VERDICT r3 item 6),
    completing the timer surface: same two-file arrival split, same
    frozen first-sight snapshot, but the fire is decided by WATERMARK
    passage over a per-key event-time SLA deadline, not wall clock.
    Distinct from ``stream_tws_inactivity_flush``: no re-arming, no
    arrival-flush branch — this is the pure deadline lifecycle
    (register once → watermark fires → emit once → delete), the shape
    of per-entity SLA/expiry monitoring at 100 TB (tiered deadlines by
    entity class; RocksDB-backed timer state; the engine's trailing
    no-data batch fires deadlines already passed by the final
    watermark, and unexpired deadlines survive in state for the next
    run). noDataMicroBatches stays ENABLED — event-time needs the
    trailing batch and terminates when the watermark stops advancing
    (unlike ProcessingTime, which never does)."""
    _ensure_tws_protobuf(spark)
    ev = _two_file_events(spark, sf_dir).withWatermark("ts", "0 seconds")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_eventtime_deadline_processor(
            _TWS_SLA_BASE_DAYS, _TWS_SLA_STEP_DAYS, _TWS_SLA_TIERS
        ),
        outputStructType=(
            "user_id long, n_first long, first_us long, deadline_ms long"
        ),
        outputMode="Append",
        timeMode="EventTime",
    )
    sink = _run_to_memory(out, sf_dir, "stream_tws_evtime", "append", _ROCKSDB)
    return sink.select(
        "user_id",
        "n_first",
        F.timestamp_micros("first_us").alias("first_ts"),
        "deadline_ms",
        (
            # pmod, not %: the processor's Python `key[0] % tiers` is a
            # floor-mod; Spark's % and DuckDB's % follow the dividend's
            # sign, which would disagree on negative ids. All three
            # sides use floor-mod semantics.
            F.lit(_TWS_SLA_BASE_DAYS)
            + F.pmod(F.col("user_id"), F.lit(_TWS_SLA_TIERS))
            * _TWS_SLA_STEP_DAYS
        ).cast("int").alias("sla_days"),
    )


STREAM_TWS_EVENTTIME_TIMER_ORACLE = f"""
-- frozen first-arrival-file snapshot per user, emitted iff the FINAL
-- watermark (max event time over both files) passed the user's SLA
-- deadline = first event + (13 + user_id % 5 * 4) days
WITH h1 AS (
    SELECT user_id, ts FROM events WHERE ts < TIMESTAMP '{_TWS_FLUSH_SPLIT}'
),
fb AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_first, min(ts) AS first_ts
    FROM h1 GROUP BY user_id
    UNION ALL
    SELECT e.user_id, CAST(count(*) AS BIGINT), min(e.ts)
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM h1 WHERE h1.user_id = e.user_id)
    GROUP BY e.user_id
),
d AS (
    SELECT user_id, n_first, first_ts,
           CAST((epoch_us(first_ts) // 1000000
                 + ({_TWS_SLA_BASE_DAYS} + ((user_id % {_TWS_SLA_TIERS}) + {_TWS_SLA_TIERS}) % {_TWS_SLA_TIERS} * {_TWS_SLA_STEP_DAYS}) * 86400) * 1000
                AS BIGINT) AS deadline_ms,
           -- floor-mod (matches the processor's Python % and Spark pmod)
           CAST({_TWS_SLA_BASE_DAYS} + ((user_id % {_TWS_SLA_TIERS}) + {_TWS_SLA_TIERS}) % {_TWS_SLA_TIERS} * {_TWS_SLA_STEP_DAYS} AS INTEGER) AS sla_days
    FROM fb
),
wm2 AS (SELECT epoch_us(max(ts)) // 1000 AS ms FROM events)
-- <= not <: Spark's TimerStateImpl expires timers with
-- timerTs <= watermark (the iterator stops only at timerTs >
-- expiryTimestampMs), so a deadline landing exactly on the final
-- watermark millisecond DOES fire
SELECT user_id, n_first, first_ts, deadline_ms, sla_days
FROM d WHERE deadline_ms <= (SELECT ms FROM wm2)
"""

SPECS.append(
    QuerySpec(
        "stream_tws_eventtime_timer",
        stream_tws_eventtime_timer,
        STREAM_TWS_EVENTTIME_TIMER_ORACLE,
    )
)


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the canonical streaming dim
    lookup: the event stream joins the STATIC customer dimension
    (broadcast per micro-batch; no state, no watermark needed for the
    join itself because the static side never changes mid-query),
    then aggregates revenue-weighted activity per market segment. At
    100 TB/day the static side is the one you pin in executor memory;
    Spark replans the broadcast each micro-batch so slowly-changing
    dims pick up snapshot refreshes between restarts. Same oracle as
    the batch join — stream/batch unification again."""
    ev = _events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    return _run_to_memory(agg, sf_dir, "stream_static_join", "complete")


STREAM_STATIC_JOIN_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark` — the bounded-state variant of
    streaming dedup (Spark 3.5+/4.x API): duplicates are only
    suppressed while their key is younger than the watermark delay,
    so state size is O(events per delay window) instead of O(all keys
    ever seen) — the ONLY dedup contract that survives an unbounded
    100 TB/day feed whose duplicates arrive close together (at-least-
    once ingestion retries), as opposed to `stream_dedup`'s exact
    global state. Fixture event_ids are unique, so output ≡ input
    (the oracle) while the within-watermark eviction machinery runs
    for real."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type", "value"
    )
    return _run_to_memory(deduped, sf_dir, "stream_dedup_within_watermark", "append")


STREAM_DEDUP_WITHIN_WATERMARK_ORACLE = """
SELECT event_id, user_id, event_type, value FROM events
"""

SPECS.extend(
    [
        QuerySpec(
            "stream_static_join",
            stream_static_join,
            STREAM_STATIC_JOIN_ORACLE,
        ),
        QuerySpec(
            "stream_dedup_within_watermark",
            stream_dedup_within_watermark,
            STREAM_DEDUP_WITHIN_WATERMARK_ORACLE,
        ),
    ]
)


def stream_left_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics the
    inner variant (`stream_stream_interval_join`) cannot express: a
    purchase with NO error within ±1h still emits, null-extended,
    once the WATERMARK proves no future match can arrive. Matched
    pairs emit as they join; the null rows are watermark-driven — in
    this availableNow run they surface in the trailing no-data batch,
    and purchases inside the final watermark's uncertainty horizon
    (ts + 1h >= final watermark = MIN over the two streams of that
    stream's max event time − 10 min) stay
    UNEMITTED, exactly like a live job awaiting more data. The oracle
    reproduces both the join and that horizon cutoff, so the hash
    check pins the eviction semantics, not just the pairs."""
    left = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "10 minutes")
    )
    right = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "10 minutes")
    )
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("ts_b") >= F.col("ts_a") - F.expr("INTERVAL 3600 seconds"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 3600 seconds")),
        "leftOuter",
    ).select(
        F.col("l_user").alias("user_id"),
        "purchase_id",
        "error_id",
        (F.unix_micros("ts_b") - F.unix_micros("ts_a")).alias("gap_us"),
    )
    return _run_to_memory(joined, sf_dir, "stream_lo_join", "append")


# The final watermark after the trailing no-data batch: max event time
# (ms granularity) minus the 10-minute delay. A purchase emits its
# null-extended row only once ts_a + 60s is BELOW that watermark.
STREAM_LEFT_OUTER_JOIN_ORACLE = """
WITH p AS (
    SELECT user_id, event_id AS purchase_id, ts FROM events
    WHERE event_type = 'purchase'
),
e AS (
    SELECT user_id, event_id AS error_id, ts FROM events
    WHERE event_type = 'error'
),
wm AS (
    -- global watermark = MIN of the two per-stream watermarks
    SELECT least((SELECT (epoch_us(max(ts)) // 1000 - 600000) * 1000 FROM p),
                 (SELECT (epoch_us(max(ts)) // 1000 - 600000) * 1000 FROM e))
           AS wm_us
),
matched AS (
    SELECT p.user_id, p.purchase_id, e.error_id,
           epoch_us(e.ts) - epoch_us(p.ts) AS gap_us
    FROM p JOIN e
      ON p.user_id = e.user_id
     AND abs(epoch_us(e.ts) - epoch_us(p.ts)) <= 3600 * CAST(1000000 AS BIGINT)
),
unmatched AS (
    SELECT p.user_id, p.purchase_id,
           CAST(NULL AS BIGINT) AS error_id, CAST(NULL AS BIGINT) AS gap_us
    FROM p, wm
    WHERE NOT EXISTS (
        SELECT 1 FROM e
        WHERE e.user_id = p.user_id
          AND abs(epoch_us(e.ts) - epoch_us(p.ts)) <= 3600 * CAST(1000000 AS BIGINT)
    )
    AND epoch_us(p.ts) + 3600 * CAST(1000000 AS BIGINT) < wm.wm_us
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
"""

SPECS.append(
    QuerySpec(
        "stream_left_outer_interval_join",
        stream_left_outer_interval_join,
        STREAM_LEFT_OUTER_JOIN_ORACLE,
    )
)


def sink_python_stream_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING write through a Python DataSource — the last cell of
    the connector matrix (batch read `src_python_datasource`, stream
    read `src_python_stream_datasource`, batch write
    `sink_python_datasource`): events stream through
    ``writeStream.format("edges_jsonl_stream")`` into the custom
    JSONL sink, whose driver-side commit(batchId) renames
    batch-scoped staged files and drops per-batch markers (replay
    after a crash rewrites the SAME names — exactly-once downstream
    of the checkpoint). The op then reads the committed files back
    and the oracle compares against the source table, so the hash
    gate proves the full write-commit-read loop, not just that a
    query ran. Timestamps travel as integer micros (JSON has no
    timestamp type; string round-trips are locale bait)."""
    from ..sources.jsonl_sink import make_jsonl_stream_sink  # noqa: PLC0415

    register(spark, make_jsonl_stream_sink())
    root = workdir(sf_dir, "stream_pysink")
    out = os.path.join(root, "out")
    shutil.rmtree(out, ignore_errors=True)
    ev = _events_stream(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )
    ckpt = os.path.join(root, "checkpoint")
    run_stream(ev, ckpt, lambda w: w.format("edges_jsonl_stream").option("path", out))
    return (
        spark.read.schema(
            "event_id long, user_id long, event_type string, ts_us long,"
            " value double"
        )
        .option("pathGlobFilter", "batch-*.jsonl")
        .json(out)
    )


SINK_PYTHON_STREAM_DATASOURCE_ORACLE = """
SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
FROM events
"""

SPECS.append(
    QuerySpec(
        "sink_python_stream_datasource",
        sink_python_stream_datasource,
        SINK_PYTHON_STREAM_DATASOURCE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# stream_update_vs_complete — output-mode semantics pinned across
# real micro-batches: the SAME aggregation run in update mode (emits
# each group's new value per batch that changes it) and complete mode
# (sink holds the final snapshot), both with exact SQL oracles.
# ---------------------------------------------------------------------------

_MODE_SPLIT = "2024-01-16 00:00:00"


def stream_update_vs_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type running counts under BOTH streaming output
    modes, over two real micro-batches (pre/post-split arrival files,
    maxFilesPerTrigger=1): update mode appends one row per (type,
    batch-that-changed-it) — cumulative count at that batch — while
    complete mode's memory sink retains only the final snapshot.
    The union (tagged by mode) pins the semantics difference as DATA:
    a type active in both halves contributes two update rows (n₁,
    then n₁+n₂) but exactly one complete row (n₁+n₂). No watermark —
    unwindowed running aggregation is the state-store path where the
    modes genuinely diverge. Oracle reconstructs both sets from the
    split timestamp."""
    raw_schema = _events_raw_schema(spark, sf_dir)
    nts = events_ts(raw_schema["ts"].dataType)
    src_dir = os.path.join(workdir(sf_dir, "stream_mode_split"), "src")
    split = F.lit(_MODE_SPLIT).cast(T.TimestampType())
    _stage_arrivals(spark, sf_dir, "events", [nts < split, nts >= split], src_dir)

    def agg_of(stream_df: DataFrame) -> DataFrame:
        return stream_df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events")
        )

    outs = []
    for mode in ("update", "complete"):
        ev = _replay(spark, raw_schema, src_dir).withColumn("ts", nts).select(
            "event_type", "ts"
        )
        sink = _run_to_memory(agg_of(ev), sf_dir, f"stream_mode_{mode}", mode)
        outs.append(
            sink.select(
                F.lit(mode).alias("mode"), "event_type", "n_events"
            )
        )
    return outs[0].unionByName(outs[1]).orderBy("mode", "event_type", "n_events")


STREAM_UPDATE_VS_COMPLETE_ORACLE = f"""
WITH h1 AS (
    SELECT event_type, COUNT(*) AS n1 FROM events
    WHERE ts < TIMESTAMP '{_MODE_SPLIT}' GROUP BY 1
),
tot AS (
    SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1
),
upd AS (
    SELECT 'update' AS mode, event_type, CAST(n1 AS BIGINT) AS n_events FROM h1
    UNION ALL
    SELECT 'update', t.event_type, CAST(t.n AS BIGINT)
    FROM tot t
    WHERE t.n > COALESCE((SELECT n1 FROM h1 WHERE h1.event_type = t.event_type), 0)
),
comp AS (
    SELECT 'complete' AS mode, event_type, CAST(n AS BIGINT) AS n_events FROM tot
)
SELECT * FROM upd
UNION ALL
SELECT * FROM comp
ORDER BY mode, event_type, n_events
"""

SPECS.append(
    QuerySpec(
        "stream_update_vs_complete",
        stream_update_vs_complete,
        STREAM_UPDATE_VS_COMPLETE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# stream_watermark_late_drop — append-mode lateness semantics pinned
# ---------------------------------------------------------------------------

_WMD_WIN_S = 299  # odd window length: no boundary ever aligns with a max ts


def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode watermark lateness pinned as DATA, with the
    engine's ACTUAL (measured) drop timing: events replay in THREE
    micro-batches split by HASH (not time), so later batches carry
    genuinely late rows. Measured contract on this engine (Spark 4,
    delay 0, availableNow file replay): the late-row filter engages
    one batch BEHIND the watermark — batch k drops rows whose window
    closed under the watermark of batch k−1 (= max event time of
    batches 0..k−2), while eviction/emission uses the current
    watermark. So batch-1 rows all merge (previous watermark is the
    epoch), and batch-2 rows are dropped exactly when their window
    end ≤ max event time of batch 0. This one-sided guarantee
    ("too-late data MAY be dropped") is precisely what the Spark
    docs promise; the oracle freezes the measured behavior so any
    engine-version change in lateness timing fails the hash.
    Emission: windows of surviving rows whose end ≤ final watermark
    (the trailing no-data batch closes them)."""
    from ..operators._helpers import h32  # noqa: PLC0415

    raw_schema = _events_raw_schema(spark, sf_dir)
    nts = events_ts(raw_schema["ts"].dataType)
    src_dir = os.path.join(workdir(sf_dir, "stream_wm_drop3"), "src")
    third = h32(F.concat(F.lit("wm-"), F.col("event_id"))) % 3
    _stage_arrivals(spark, sf_dir, "events", [third == i for i in range(3)], src_dir)
    ev = (
        _replay(spark, raw_schema, src_dir)
        .withColumn("ts", nts)
        .withWatermark("ts", "0 seconds")
        .select("ts")
    )
    agg = (
        ev.groupBy(F.window("ts", f"{_WMD_WIN_S} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_kept",
        )
    )
    sink = _run_to_memory(agg, sf_dir, "stream_wm_drop3", "append")
    return sink.select(
        F.date_format("w_start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        F.date_format("w_end", "yyyy-MM-dd HH:mm:ss").alias("w_end"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
    ).orderBy("w_start")


STREAM_WATERMARK_LATE_DROP_ORACLE = f"""
WITH tagged AS (
    SELECT ts,
           ('0x' || substring(md5('wm-' || event_id), 1, 8))::BIGINT % 3 AS h,
           to_timestamp(CAST(floor(epoch(ts) / {_WMD_WIN_S}) AS BIGINT)
                        * {_WMD_WIN_S}) AS w_start
    FROM events
),
wm AS (
    SELECT (SELECT max(ts) FROM tagged WHERE h = 0) AS wm_b0,
           (SELECT max(ts) FROM tagged) AS wm_final
),
kept AS (
    SELECT w_start,
           w_start + INTERVAL {_WMD_WIN_S} SECOND AS w_end,
           COUNT(*) AS n_kept
    FROM tagged CROSS JOIN wm
    WHERE h IN (0, 1)
       OR w_start + INTERVAL {_WMD_WIN_S} SECOND > wm.wm_b0
    GROUP BY w_start
)
SELECT strftime(k.w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
       strftime(k.w_end, '%Y-%m-%d %H:%M:%S') AS w_end,
       CAST(k.n_kept AS BIGINT) AS n_kept
FROM kept k CROSS JOIN wm
WHERE k.w_end <= wm.wm_final
ORDER BY k.w_start
"""

SPECS.append(
    QuerySpec(
        "stream_watermark_late_drop",
        stream_watermark_late_drop,
        STREAM_WATERMARK_LATE_DROP_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# stream_checkpoint_resume — exactly-once offset recovery pinned
# ---------------------------------------------------------------------------


def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpoint contract that makes streaming restarts safe:
    run 1 processes the initially-visible arrival file and stops;
    a second file then lands; run 2 restarts from the SAME
    checkpoint and must process ONLY the new file — zero
    reprocessing, zero loss. Both runs execute inside this one
    invocation against a fresh checkpoint (wiped at entry), so the
    op is idempotent and the two per-run audit rows are exact: row
    counts and a DECIMAL value checksum per run equal the hash-half
    populations the oracle recomputes. A source that replays run-1
    offsets (double counting) or skips run-2 data breaks the hash."""
    from ..operators._helpers import h32  # noqa: PLC0415

    raw_schema = _events_raw_schema(spark, sf_dir)
    root = workdir(sf_dir, "stream_ckpt_resume")
    stage = os.path.join(root, "stage")  # both halves, pre-built once
    half = h32(F.concat(F.lit("ck-"), F.col("event_id"))) % 2
    _stage_arrivals(spark, sf_dir, "events", [half == 0, half == 1], stage)

    src_dir = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir)
    shutil.copy(
        os.path.join(stage, "events_0.parquet"),
        os.path.join(src_dir, "events_0.parquet"),
    )
    out_dir = os.path.join(root, "out")
    shutil.rmtree(out_dir, ignore_errors=True)
    for run in (1, 2):
        if run == 2:  # the new file lands between runs
            shutil.copy(
                os.path.join(stage, "events_1.parquet"),
                os.path.join(src_dir, "events_1.parquet"),
            )
        stream = spark.readStream.schema(raw_schema).parquet(src_dir)
        # the memory sink can't recover a checkpoint; the FILE sink is
        # the fault-tolerant one — rows self-tag with their run so the
        # audit can prove which run wrote them
        rows = stream.select(
            "event_id",
            F.round(F.col("value") * 100).cast("decimal(18,0)").alias("cents"),
            F.lit(run).cast("int").alias("run"),
        )
        # run 1 starts a fresh checkpoint, run 2 resumes it
        run_stream(
            rows, ckpt, lambda w: w.format("parquet").option("path", out_dir).outputMode("append"),
            resume=run == 2,
        )
    return (
        spark.read.parquet(out_dir)
        .groupBy("run")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("double").alias("cents_sum"),
        )
        .orderBy("run")
    )


STREAM_CHECKPOINT_RESUME_ORACLE = """
WITH tagged AS (
    SELECT ('0x' || substring(md5('ck-' || event_id), 1, 8))::BIGINT % 2 AS h,
           CAST(round(value * 100) AS DECIMAL(18,0)) AS cents
    FROM events
)
SELECT CAST(1 AS INT) AS run,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS DOUBLE) AS cents_sum
FROM tagged WHERE h = 0
UNION ALL
SELECT CAST(2 AS INT), CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS DOUBLE)
FROM tagged WHERE h = 1
ORDER BY run
"""

SPECS.append(
    QuerySpec(
        "stream_checkpoint_resume",
        stream_checkpoint_resume,
        STREAM_CHECKPOINT_RESUME_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# stream_chained_aggregations — two stateful operators in ONE query
# ---------------------------------------------------------------------------


def stream_chained_aggregations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained stateful windowed aggregations in a single
    streaming query — the Spark 4 multi-stateful-operator capability
    (blocked pre-3.4): 5-minute tumbling counts per event type roll
    up into the HOURLY MAX of those counts, both watermarked, in one
    plan with two state stores. The classic two-tier monitoring
    rollup (fine-grain counts, coarse-grain peaks) without a second
    query or an intermediate sink. `window_time()` re-derives the
    event-time column from the first window for the second
    aggregation. Emitted rows are hourly windows closed by the final
    watermark; the oracle computes the same two-level rollup with
    the same closure rule."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "0 seconds")
    five = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w5"), "event_type")
        .agg(F.count(F.lit(1)).alias("n5"))
    )
    hourly = (
        five.groupBy(
            F.window(F.window_time("w5"), "1 hour").alias("wh"), "event_type"
        )
        .agg(F.max("n5").alias("peak_5min"), F.count(F.lit(1)).alias("n_buckets"))
        .select(
            F.col("wh.start").alias("h_start"),
            F.col("wh.end").alias("h_end"),
            "event_type",
            "peak_5min",
            "n_buckets",
        )
    )
    sink = _run_to_memory(hourly, sf_dir, "stream_chained_agg", "append")
    return sink.select(
        F.date_format("h_start", "yyyy-MM-dd HH:mm:ss").alias("h_start"),
        "event_type",
        F.col("peak_5min").cast("bigint").alias("peak_5min"),
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
    ).orderBy("h_start", "event_type")


STREAM_CHAINED_AGGREGATIONS_ORACLE = """
WITH wm AS (SELECT max(ts) AS wmf FROM events),
five AS (
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS w5_start,
           event_type, COUNT(*) AS n5
    FROM events GROUP BY 1, 2
),
hourly AS (
    SELECT time_bucket(INTERVAL '1 hour', w5_start) AS h_start,
           event_type,
           MAX(n5) AS peak_5min,
           COUNT(*) AS n_buckets
    FROM five GROUP BY 1, 2
)
SELECT strftime(h.h_start, '%Y-%m-%d %H:%M:%S') AS h_start,
       h.event_type,
       CAST(h.peak_5min AS BIGINT) AS peak_5min,
       CAST(h.n_buckets AS BIGINT) AS n_buckets
FROM hourly h CROSS JOIN wm
WHERE h.h_start + INTERVAL '1 hour' <= wm.wmf
ORDER BY h_start, event_type
"""

SPECS.append(
    QuerySpec(
        "stream_chained_aggregations",
        stream_chained_aggregations,
        STREAM_CHAINED_AGGREGATIONS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Streaming point-in-time feature enrichment (online feature store)
# ---------------------------------------------------------------------------

_PIT_OUT_SCHEMA = (
    "event_id long, user_id long, last_click_value double, "
    "last_view_value double, n_errors_before long"
)
_PIT_STATE_SCHEMA = "lc double, lv double, ne long"


def _pit_enrich_fn():
    """Per-user feature state carried across micro-batches: latest
    click value, latest view value, running error count. Each
    'purchase' row is emitted ENRICHED with the state as of strictly
    before its timestamp — the online feature-store serve path, and
    the streaming twin of the batch ``join_pit_features`` operator
    (same sort key (ts, kind, event_id); spine rows sort before
    same-ts feature rows, so no same-timestamp leakage). Closure-
    wrapped so cloudpickle ships it by value."""

    def enrich(key: tuple, batches: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        import pandas as _pd  # noqa: PLC0415 - worker-side import

        lc, lv, ne = state.get if state.exists else (None, None, 0)
        for pdf in batches:
            pdf = pdf.copy()
            pdf["kind"] = (pdf["event_type"] != "purchase").astype("int64")
            pdf = pdf.sort_values(["ts", "kind", "event_id"])
            out_rows = []
            for row in pdf.itertuples(index=False):
                if row.event_type == "purchase":
                    out_rows.append((int(row.event_id), int(key[0]), lc, lv, int(ne)))
                elif row.event_type == "click":
                    lc = float(row.value)
                elif row.event_type == "view":
                    lv = float(row.value)
                elif row.event_type == "error":
                    ne += 1
            if out_rows:
                yield _pd.DataFrame(
                    {
                        "event_id": _pd.array([r[0] for r in out_rows], dtype="Int64"),
                        "user_id": _pd.array([r[1] for r in out_rows], dtype="Int64"),
                        "last_click_value": _pd.array(
                            [r[2] for r in out_rows], dtype="Float64"
                        ),
                        "last_view_value": _pd.array(
                            [r[3] for r in out_rows], dtype="Float64"
                        ),
                        "n_errors_before": _pd.array(
                            [r[4] for r in out_rows], dtype="Int64"
                        ),
                    }
                )
        state.update((lc, lv, ne))

    return enrich


def stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time feature enrichment over THREE real
    time-ordered micro-batches: events split once into disjoint
    day-range files (mtimes set ascending so FileStreamSource's
    modification-time ordering replays them in event-time order,
    maxFilesPerTrigger=1), and ``applyInPandasWithState`` carries
    per-user feature state across batches. Because the range split is
    strict on a day boundary, no feature can arrive in a later batch
    than a purchase it should precede — so the emitted rows equal the
    batch ``join_pit_features`` result exactly, and the job shares
    its full DuckDB oracle (batch/stream parity, the Kappa
    architecture claim, checked by hash).

    Scale posture: state is 3 scalars per user; each batch shuffles
    once on user_id; the per-group Python loop is the price of
    arbitrary stateful logic and runs over Arrow batches.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    raw_schema = _events_raw_schema(spark, sf_dir)
    src_dir = os.path.join(workdir(sf_dir, "stream_pit_enrich"), "src")
    ts_day = F.date_format(events_ts(raw_schema["ts"].dataType), "yyyy-MM-dd")
    bounds = [("0000-01-01", "2024-01-10"), ("2024-01-10", "2024-01-20"), ("2024-01-20", "9999-01-01")]
    conds = [(ts_day >= lo) & (ts_day < hi) for lo, hi in bounds]
    _stage_arrivals(spark, sf_dir, "events", conds, src_dir)
    stream = _replay(spark, raw_schema, src_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _pit_enrich_fn(),
        outputStructType=_PIT_OUT_SCHEMA,
        stateStructType=_PIT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out, sf_dir, "stream_pit_enrich", "append")


STREAM_PIT_ENRICH_ORACLE = """
WITH tagged AS (
    SELECT event_id, user_id AS key, ts AS t, 0 AS kind,
           NULL::DOUBLE AS f_click, NULL::DOUBLE AS f_view, 0 AS is_err
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id, user_id, ts, 1,
           CASE WHEN event_type = 'click' THEN value END,
           CASE WHEN event_type = 'view' THEN value END,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
    FROM events WHERE event_type IN ('click', 'view', 'error')
),
win AS (
    SELECT event_id, key, kind,
           last_value(f_click IGNORE NULLS) OVER w AS last_click_value,
           last_value(f_view IGNORE NULLS) OVER w AS last_view_value,
           SUM(is_err) OVER w AS n_err
    FROM tagged
    WINDOW w AS (PARTITION BY key ORDER BY t, kind, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, key AS user_id,
       last_click_value, last_view_value,
       CAST(n_err AS BIGINT) AS n_errors_before
FROM win WHERE kind = 0
"""

SPECS.append(
    QuerySpec(
        "stream_pit_enrich",
        stream_pit_enrich,
        STREAM_PIT_ENRICH_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Streaming dead-letter split (dual-sink quarantine)
# ---------------------------------------------------------------------------


def stream_dlq_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality gate with a DEAD-LETTER QUEUE: every
    micro-batch splits into accepted rows (parseable props, value in
    the sane range) and quarantined rows, each written to its OWN
    idempotent batchId-keyed parquet sink inside one ``foreachBatch``
    — the dual-sink recipe ingest pipelines use so bad records are
    preserved with a reject reason instead of dropped. The query
    returns the re-read of BOTH sinks tagged by route, so the oracle
    checks the complete partition of the input: nothing lost, nothing
    duplicated, every quarantine carries its reason.

    Scale: the split predicate is row-local (no shuffle); each batch
    writes two sequential parquet jobs — the cost of durable
    quarantine, amortized per micro-batch."""
    root = workdir(sf_dir, "stream_dlq")
    ok_root = os.path.join(root, "accepted")
    dlq_root = os.path.join(root, "quarantine")
    shutil.rmtree(ok_root, ignore_errors=True)
    shutil.rmtree(dlq_root, ignore_errors=True)

    reason = (
        F.when(F.col("event_type") == "error", F.lit("error_event"))
        .when(F.col("value") < 5, F.lit("below_value_floor"))
        .when(F.col("value") > 450, F.lit("above_value_cap"))
        .when(F.get_json_object("props", "$.k").isNull(), F.lit("unparseable_props"))
    )

    def split_batch(batch_df: DataFrame, batch_id: int) -> None:
        tagged = batch_df.withColumn("reject_reason", reason)
        tagged.filter(F.col("reject_reason").isNull()).drop("reject_reason").write.mode(
            "overwrite"
        ).parquet(os.path.join(ok_root, f"batch_id={batch_id}"))
        tagged.filter(F.col("reject_reason").isNotNull()).write.mode(
            "overwrite"
        ).parquet(os.path.join(dlq_root, f"batch_id={batch_id}"))

    ev = _events_stream(spark, sf_dir).select("event_id", "event_type", "value", "props")
    run_stream(ev, os.path.join(root, "checkpoint"), lambda w: w.foreachBatch(split_batch))
    ok, dlq = _read_batches(spark, ok_root), _read_batches(spark, dlq_root)
    return ok.select(
        "event_id",
        F.lit("accepted").alias("route"),
        F.lit(None).cast("string").alias("reject_reason"),
    ).unionByName(dlq.select("event_id", F.lit("quarantine").alias("route"), "reject_reason"))


STREAM_DLQ_SPLIT_ORACLE = """
SELECT event_id,
       CASE WHEN reason IS NULL THEN 'accepted' ELSE 'quarantine' END AS route,
       reason AS reject_reason
FROM (
    SELECT event_id,
           CASE WHEN event_type = 'error' THEN 'error_event'
                WHEN value < 5 THEN 'below_value_floor'
                WHEN value > 450 THEN 'above_value_cap'
                WHEN json_extract_string(props, '$.k') IS NULL THEN 'unparseable_props'
           END AS reason
    FROM events
)
"""

SPECS.append(
    QuerySpec(
        "stream_dlq_split",
        stream_dlq_split,
        STREAM_DLQ_SPLIT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# stream_corpus_ingest — streaming corpus intake: gate + cross-batch dedup
# ---------------------------------------------------------------------------

_SCI_BATCHES = 3       # arrival files (doc_id mod 3)
_SCI_MIN_TOKENS = 20   # quality floor (shared with pipeline_pretrain_batches)
_SCI_MAX_WORD_LEN = 12


def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus intake — the Kappa twin of
    ``pipeline_pretrain_batches``'s front half: documents arrive in
    three REAL micro-batches (maxFilesPerTrigger=1, availableNow);
    each ``foreachBatch`` applies the row-local quality gate, dedups
    WITHIN the batch (min doc_id per canonical-text hash), then
    anti-joins against the accumulated seen-hash ledger so a document
    already accepted by an earlier batch is never re-admitted — the
    incremental exactly-once ingest rule of a production corpus
    intake. Accepted rows land in a batchId-keyed idempotent parquet
    sink (replay-safe); the seen-hash ledger IS that sink's ``h``
    column, so each micro-batch does exactly one write and the
    gate+dedup plan is computed once (a second ledger sink would
    recompute it — measured 2x per-batch work at r8).

    Returns the per-batch intake manifest (new docs, their BPE-proxy
    token mass, an order-free doc-id checksum); the oracle replays
    the arrival order in SQL (keeper = first occurrence of each hash
    by (batch, doc_id)), so the hash check pins the CROSS-BATCH dedup
    semantics, not just row counts.

    Scale: the gate is row-local; the in-batch dedup is one hash agg
    per micro-batch; the ledger anti-join is hash-keyed and the
    ledger carries one row per distinct accepted content — the same
    state a streaming dedup operator would hold, but spillable and
    inspectable as a table."""
    from ..operators._helpers import h32  # noqa: PLC0415

    root = workdir(sf_dir, "stream_corpus_ingest")
    src_dir = os.path.join(root, "src")
    acc_root = os.path.join(root, "accepted")
    shutil.rmtree(acc_root, ignore_errors=True)

    conds = [F.col("doc_id") % _SCI_BATCHES == i for i in range(_SCI_BATCHES)]
    _stage_arrivals(spark, sf_dir, "documents", conds, src_dir)
    doc_schema = READ_SCHEMAS["documents"]
    n_ws = F.size(F.split("text", " "))
    mean_word = (F.length("text") - n_ws + 1) / n_ws
    canon_h = h32(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    n_tok = F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), 0))

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        gated = batch_df.filter(
            (n_ws >= _SCI_MIN_TOKENS) & (mean_word <= _SCI_MAX_WORD_LEN)
        ).select(
            "doc_id", "source", canon_h.alias("h"), n_tok.cast("bigint").alias("n_tok")
        )
        from pyspark.sql import Window as W  # noqa: PLC0415

        first = (
            gated.withColumn(
                "rk", F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
            )
            .filter(F.col("rk") == 1)
            .drop("rk")
        )
        prior = sorted(
            d
            for d in glob.glob(os.path.join(acc_root, "batch_id=*"))
            if int(d.rsplit("=", 1)[1]) < batch_id  # replay-safe: never
            # anti-join a replayed batch against its own partial output
        )
        if prior:
            ledger = ss.read.parquet(*prior).select("h")
            first = first.join(ledger, "h", "left_anti")
        first.write.mode("overwrite").parquet(
            os.path.join(acc_root, f"batch_id={batch_id}")
        )

    stream = _replay(spark, doc_schema, src_dir)
    run_stream(stream, os.path.join(root, "checkpoint"), lambda w: w.foreachBatch(ingest_batch))
    return (
        _read_batches(spark, acc_root)
        .groupBy(F.col("batch_id").cast("int").alias("batch_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_new"),
            F.sum("n_tok").cast("bigint").alias("tokens_new"),
            F.sum(h32(F.col("doc_id").cast("string"))).cast("bigint").alias("docs_checksum"),
        )
        .orderBy("batch_id")
    )


STREAM_CORPUS_INGEST_ORACLE = f"""
WITH gated AS (
    SELECT doc_id, CAST(doc_id % {_SCI_BATCHES} AS INTEGER) AS batch_id,
           ('0x' || substring(md5(
               lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
           ), 1, 8))::BIGINT AS h,
           CAST(len(regexp_extract_all(text, '[a-z]{{1,4}}')) AS BIGINT) AS n_tok
    FROM documents
    WHERE len(string_split(text, ' ')) >= {_SCI_MIN_TOKENS}
      AND (length(text) - len(string_split(text, ' ')) + 1)
          / len(string_split(text, ' ')) <= {_SCI_MAX_WORD_LEN}
),
kept AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY h ORDER BY batch_id, doc_id) AS rk
        FROM gated
    ) WHERE rk = 1
)
SELECT batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_new,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_new,
       CAST(SUM(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
            AS BIGINT) AS docs_checksum
FROM kept
GROUP BY batch_id
ORDER BY batch_id
"""

SPECS.append(
    QuerySpec(
        "stream_corpus_ingest",
        stream_corpus_ingest,
        STREAM_CORPUS_INGEST_ORACLE,
    )
)
