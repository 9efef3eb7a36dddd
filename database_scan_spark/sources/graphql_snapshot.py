"""Custom batch source via the Spark 4 Python DataSource API —
the connector shape SURVEY §2.1 prescribes for the reference's
GraphQL scan (`src_graphql_post`: "custom batch source … or Spark 4
Python DataSource API").

The reference fetches pages over HTTP (`requests.post` at
`/root/reference/query_opentargets.py:13`) and decodes JSON rows.
This source reads the same *shape* — a directory of JSON-lines
"response pages", one file per partition — through a first-class
DataSource: partition planning on the driver, per-partition readers
on executors, schema declared up front.

LIVE MODE (VERDICT r6 item 7): ``.option("mode", "live")`` swaps the
page-directory read for real HTTP POSTs — the reference's
``requests.post`` loop (`query_opentargets.py:13-16`) with its 1 rps
pacing (`x2.2.py:296-299`) as a token-bucket sleep between pages.
A cursor/offset-paged API cannot be fetched in parallel (page i+1's
cursor comes from page i, and the rate limit is API-global), so live
mode plans ONE serial partition — exactly the reference's loop shape;
the parallel path is the snapshot layout. Options:

- ``endpoint``   POST URL (required in live mode)
- ``query``      GraphQL document sent as ``{"query", "variables"}``
- ``page_size``  rows per page (default 100) — variables are
                 ``{"index": i, "size": page_size}``
- ``max_pages``  hard page cap (default 1000)
- ``rate_per_sec`` token-bucket rate (default 1.0, the reference's)
- ``rows_path``  dotted path to the row list inside the response
                 JSON (default ``data.rows``; OpenTargets-style
                 nesting like ``data.target.associatedDiseases.rows``
                 works)

Implemented on stdlib ``urllib.request`` so the connector has no
dependency the engine doesn't already carry. Tested against a
loopback HTTP server in tests/test_live_connectors.py.

The DataSource classes are built inside ``make_datasource()`` so
cloudpickle serializes them BY VALUE: a registered module-level class
pickles by reference, and Spark's Python workers (whose sys.path the
driver controls, not us) cannot import this package.
"""

from __future__ import annotations

import os


def make_extract_rows():
    """Return the GraphQL row extractor both connectors use (this
    module and ``page_stream``). Closure-defined like the DataSource
    classes, so each reader that calls it ships it by value."""

    def _extract_rows(payload: dict, rows_path: str) -> list:
        """Pull the row list out of a GraphQL response, fail-loud.

        GraphQL transports errors as HTTP 200 bodies (`{"errors":
        [...]}`) — urlopen does not raise on them, and without this
        check an error page is indistinguishable from cursor
        exhaustion (silent truncation). A missing/None rows_path and a
        non-dict mid-path node are config/shape errors, also loud;
        only an ACTUAL empty list means the cursor is exhausted.
        """
        if payload.get("errors"):
            raise RuntimeError(f"GraphQL error response: {payload['errors']}")
        node = payload
        walked = []
        for key in rows_path.split("."):
            walked.append(key)
            if not isinstance(node, dict):
                raise ValueError(
                    f"rows_path {'.'.join(walked)!r}: parent is "
                    f"{type(node).__name__}, not an object — fix the "
                    "rows_path option to match the response shape"
                )
            node = node.get(key)
            if node is None:
                raise ValueError(
                    f"rows_path {'.'.join(walked)!r} missing from the "
                    "response — fix the rows_path option"
                )
        if not isinstance(node, list):
            raise ValueError(
                f"rows_path {rows_path!r} resolves to "
                f"{type(node).__name__}, expected a list of rows"
            )
        return node

    return _extract_rows


def make_datasource():
    """Return the GraphQLSnapshot DataSource class, closure-defined so
    registration ships the code itself to workers."""
    import glob  # noqa: PLC0415
    import json  # noqa: PLC0415

    from pyspark.sql.datasource import (  # noqa: PLC0415
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    _extract_rows = make_extract_rows()

    class _PagePartition(InputPartition):
        def __init__(self, path: str):
            self.path = path

    class _LiveCrawl(InputPartition):
        """The whole live crawl as ONE partition: cursor-paged APIs
        serialize page i+1 behind page i and the rate limit is
        API-global, so there is nothing to parallelize."""

        def __init__(self):
            super().__init__(value=None)

    class _SnapshotReader(DataSourceReader):
        def __init__(self, schema, options: dict):
            self.schema = schema
            self.mode = options.get("mode", "snapshot")
            self.path = options.get("path")
            self.endpoint = options.get("endpoint")
            self.query = options.get("query", "")
            self.page_size = int(options.get("page_size", "100"))
            self.max_pages = int(options.get("max_pages", "1000"))
            self.rate_per_sec = float(options.get("rate_per_sec", "1.0"))
            self.rows_path = options.get("rows_path", "data.rows")
            self.stop_on = options.get("stop_on", "short_page")
            if self.mode == "live":
                if not self.endpoint:
                    raise ValueError(
                        "graphql_snapshot mode=live requires option 'endpoint'"
                    )
                if self.stop_on not in ("short_page", "empty_page"):
                    raise ValueError(
                        "stop_on must be 'short_page' (default: a page "
                        "shorter than page_size ends the crawl) or "
                        "'empty_page' (strict: keep POSTing until an "
                        f"actually-empty page), got {self.stop_on!r}"
                    )
                if self.rate_per_sec <= 0:
                    raise ValueError(
                        "rate_per_sec must be > 0 (use a large value like "
                        "1e9 for effectively-unthrottled, not 0)"
                    )
                # A non-positive cap or page size would end the crawl
                # after ZERO rows without tripping the non-exhausted-
                # cursor guard (the loop body never runs), i.e. the one
                # configuration where truncation would be silent — so
                # it is a config error, not an empty relation.
                if self.max_pages < 1:
                    raise ValueError(
                        f"max_pages must be >= 1, got {self.max_pages}: a "
                        "zero-page live crawl is indistinguishable from an "
                        "empty API and would silently under-read"
                    )
                if self.page_size < 1:
                    raise ValueError(
                        f"page_size must be >= 1, got {self.page_size}"
                    )
            elif not self.path:
                raise ValueError("graphql_snapshot requires option 'path'")

        def partitions(self):
            if self.mode == "live":
                return [_LiveCrawl()]
            # one "response page" file per partition — the layout a
            # live cursor-paged GraphQL crawl would produce
            files = sorted(
                glob.glob(os.path.join(self.path, "page=*", "part-*"))
                + glob.glob(os.path.join(self.path, "page-*.jsonl"))
            )
            return [_PagePartition(p) for p in files]

        def read(self, partition):
            field_names = [f.name for f in self.schema.fields]
            if isinstance(partition, _LiveCrawl):
                yield from self._read_live(field_names)
                return
            with open(partition.path) as fh:
                for line in fh:
                    rec = json.loads(line)
                    yield tuple(rec.get(k) for k in field_names)

        def _read_live(self, field_names):
            """The reference loop: POST page, pace, repeat until the
            cursor is exhausted (query_opentargets.py:13-16; pacing
            x2.2.py:296-299 — a token-bucket sleep, so a slow API
            response already 'spends' the token).

            Stop condition (ADVICE r7): the default ``stop_on=
            short_page`` fast path ASSUMES the API serves full pages
            until exhaustion — true of index-sliced stores like the
            reference's, but an API that legitimately returns short
            mid-crawl pages (server-side caps, post-filtering) would
            be silently truncated, and that is unverifiable from the
            client's stop condition alone. ``stop_on=empty_page``
            trades one extra probe POST per crawl for the strict
            guarantee: only an ACTUALLY-empty page ends the crawl.

            NOTE: like any uncached Spark source, every ACTION on the
            returned DataFrame re-runs the crawl (count() then
            collect() POSTs every page twice, and may see different
            API states). Callers should ``persist()`` or land the
            result to a table immediately — documented in README.
            """
            import time  # noqa: PLC0415
            import urllib.request  # noqa: PLC0415

            interval = 1.0 / self.rate_per_sec
            last = float("-inf")
            rows: list = []
            for page in range(self.max_pages):
                wait = interval - (time.monotonic() - last)
                if wait > 0:
                    time.sleep(wait)
                last = time.monotonic()
                body = json.dumps(
                    {
                        "query": self.query,
                        "variables": {"index": page, "size": self.page_size},
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
                if not rows:
                    return
                for rec in rows:
                    yield tuple(rec.get(k) for k in field_names)
                if self.stop_on == "short_page" and len(rows) < self.page_size:
                    return
            # Loop exhausted the page cap without seeing exhaustion
            # (short_page: last page still FULL; empty_page: last page
            # non-empty): more data may exist — refuse to pass a
            # silently-truncated result off as the whole crawl.
            if rows and (
                self.stop_on == "empty_page" or len(rows) == self.page_size
            ):
                raise RuntimeError(
                    f"live crawl hit max_pages={self.max_pages} with a "
                    "non-exhausted cursor — results would be truncated; "
                    "raise the max_pages option"
                )

    class GraphQLSnapshotDataSource(DataSource):
        """``spark.read.format("graphql_snapshot").option("path", d)``:
        each response-page file is one partition of decoded rows."""

        @classmethod
        def name(cls) -> str:
            return "graphql_snapshot"

        def schema(self) -> str:
            return "entity_id bigint, edge_id bigint, score double"

        def reader(self, schema):
            return _SnapshotReader(schema, self.options)

    return GraphQLSnapshotDataSource


def entity_edges(spark, sf_dir: str):
    """The entity-edge rows a crawl of the snapshot returns: orders of
    customers below 50 as (entity_id, edge_id, score)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from ..catalog import load  # noqa: PLC0415

    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 50)
        .select(
            F.col("o_custkey").alias("entity_id"),
            F.col("o_orderkey").alias("edge_id"),
            F.col("o_totalprice").alias("score"),
        )
    )


def materialize_pages(spark, sf_dir: str, out_dir: str, n_pages: int = 4) -> None:
    """Produce the JSON-lines 'response pages' this source reads, from
    the orders edge table (what a cursor-paged GraphQL crawl of the
    snapshot would have written). Deterministic page assignment by
    key mod; written distributed (partitionBy), no driver collect."""
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker):
        return
    from pyspark.sql import functions as F  # noqa: PLC0415

    (
        entity_edges(spark, sf_dir)
        .withColumn("page", F.col("edge_id") % n_pages)
        .repartition("page")
        .write.mode("overwrite")
        .partitionBy("page")
        .json(out_dir)
    )
