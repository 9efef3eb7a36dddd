"""Custom batch SINK via the Spark 4 Python DataSource writer API —
the write half of the connector matrix (read half:
`sources/graphql_snapshot.py` batch, `sources/page_stream.py`
streaming). The reference's only sinks are CSV/stdout appends
(`/root/reference/x2.2.py:331-336`); this is that JSON-lines shape
with the commit protocol a distributed engine actually needs:

- executors write to a `_staging/` dir (task-attempt scoped names,
  so speculative/retried tasks can't collide),
- each task returns a `WriterCommitMessage` naming its staged file,
- the DRIVER's `commit()` atomically renames exactly the staged
  files of the SUCCESSFUL task set and drops a `_SUCCESS` manifest
  with the committed row count,
- `abort()` removes staged files so failed jobs leave no partial
  output visible.

Readers that honor the manifest see all-or-nothing output — the
same contract as Hadoop FileOutputCommitter v1.

Classes are factory-built for by-value cloudpickle serialization
(same rule as the other custom sources: workers can't import this
package).
"""

from __future__ import annotations


def make_jsonl_sink():
    """Return the edges_jsonl DataSource class (closure-defined so
    registration ships the code itself to workers)."""
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415
    import uuid  # noqa: PLC0415
    from dataclasses import dataclass  # noqa: PLC0415

    from pyspark import TaskContext  # noqa: PLC0415
    from pyspark.sql.datasource import (  # noqa: PLC0415
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    @dataclass
    class _Committed(WriterCommitMessage):
        staged: str
        rows: int

    class _JsonlWriter(DataSourceWriter):
        def __init__(self, options: dict, overwrite: bool):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("edges_jsonl requires option 'path'")
            self.overwrite = overwrite
            # test hook: deterministic task failure to exercise abort()
            self.fail_partition = int(options.get("fail_partition", "-1"))

        def write(self, rows):
            pid = TaskContext.get().partitionId()
            if pid == self.fail_partition:
                raise RuntimeError(f"edges_jsonl: injected failure on partition {pid}")
            os.makedirs(os.path.join(self.path, "_staging"), exist_ok=True)
            staged = os.path.join(
                self.path, "_staging", f"part-{pid:05d}-{uuid.uuid4().hex}.jsonl"
            )
            n = 0
            with open(staged, "w") as fh:
                for r in rows:
                    fh.write(json.dumps(r.asDict(), default=str) + "\n")
                    n += 1
            return _Committed(staged=staged, rows=n)

        def commit(self, messages):
            for m in messages:
                final = os.path.join(self.path, os.path.basename(m.staged))
                os.replace(m.staged, final)
            with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
                fh.write(str(sum(m.rows for m in messages)))

        def abort(self, messages):
            for m in messages:
                if m is not None and os.path.exists(m.staged):
                    os.remove(m.staged)

    class EdgesJsonlSink(DataSource):
        """``df.write.format("edges_jsonl").option("path", d).save()``"""

        @classmethod
        def name(cls) -> str:
            return "edges_jsonl"

        def writer(self, schema, overwrite: bool):
            return _JsonlWriter(self.options, overwrite)

    return EdgesJsonlSink


def make_jsonl_stream_sink():
    """Return the edges_jsonl_stream DataSource class — the STREAMING
    write half of the connector matrix: per micro-batch, executors
    stage task files, and the driver's commit(batchId) renames them
    under a batch prefix and drops a per-batch commit marker. A batch
    replayed after a crash overwrites its own files idempotently
    (batch-scoped names), so the sink is exactly-once downstream of
    the checkpoint — the same contract as the engine's foreachBatch
    sink, expressed through the Spark 4 DataSourceStreamWriter API."""
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415
    import uuid  # noqa: PLC0415
    from dataclasses import dataclass  # noqa: PLC0415

    from pyspark import TaskContext  # noqa: PLC0415
    from pyspark.sql.datasource import (  # noqa: PLC0415
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    @dataclass
    class _Staged(WriterCommitMessage):
        staged: str
        rows: int

    class _JsonlStreamWriter(DataSourceStreamWriter):
        def __init__(self, options: dict):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("edges_jsonl_stream requires option 'path'")

        def write(self, iterator):
            pid = TaskContext.get().partitionId()
            os.makedirs(os.path.join(self.path, "_staging"), exist_ok=True)
            staged = os.path.join(
                self.path, "_staging", f"part-{pid:05d}-{uuid.uuid4().hex}.jsonl"
            )
            n = 0
            with open(staged, "w") as fh:
                for r in iterator:
                    fh.write(json.dumps(r.asDict(), default=str) + "\n")
                    n += 1
            return _Staged(staged=staged, rows=n)

        def commit(self, messages, batchId):  # noqa: N803 - API name
            for i, m in enumerate(messages):
                if m is None:
                    continue
                final = os.path.join(
                    self.path, f"batch-{batchId:05d}-part-{i:05d}.jsonl"
                )
                os.replace(m.staged, final)  # batch-scoped: replay-safe
            with open(
                os.path.join(self.path, f"_COMMITTED-{batchId:05d}"), "w"
            ) as fh:
                fh.write(str(sum(m.rows for m in messages if m is not None)))

        def abort(self, messages, batchId):  # noqa: N803 - API name
            for m in messages:
                if m is not None and os.path.exists(m.staged):
                    os.remove(m.staged)

    class EdgesJsonlStreamSink(DataSource):
        """The streaming sink, ``format("edges_jsonl_stream")`` (see ``session.run_stream``)."""

        @classmethod
        def name(cls) -> str:
            return "edges_jsonl_stream"

        def streamWriter(self, schema, overwrite):  # noqa: N802 - API name
            return _JsonlStreamWriter(self.options)

    return EdgesJsonlStreamSink
