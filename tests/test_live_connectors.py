"""Live-mode DataSource connectors (VERDICT r6 item 7) exercised
against a loopback HTTP server — the ``requests.post`` swap the
reference actually performs (query_opentargets.py:13-16) is tested
here end-to-end instead of merely documented: real POSTs, cursor
paging, token-bucket pacing, and (for the stream) spool-backed
exactly-once replay of committed offset ranges.
"""

from __future__ import annotations

import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# 20 deterministic rows; page_size 7 → pages of 7/7/6, then exhausted.
DATA = [
    {"entity_id": i, "edge_id": 1000 + i, "score": i / 4.0} for i in range(20)
]
PAGE_SIZE = 7


class _GraphQLHandler(BaseHTTPRequestHandler):
    hits: list[dict] = []  # class-level: one server per test

    def do_POST(self):  # noqa: N802 - http.server API
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        type(self).hits.append(body)
        var = body.get("variables", {})
        i, size = var.get("index", 0), var.get("size", PAGE_SIZE)
        rows = DATA[i * size : (i + 1) * size]
        payload = json.dumps({"data": {"rows": rows}}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *a):  # silence per-request stderr noise
        pass


@pytest.fixture()
def http_server():
    try:
        server = ThreadingHTTPServer(("127.0.0.1", 0), _GraphQLHandler)
    except OSError:
        pytest.skip("loopback sockets unavailable in this sandbox")
    _GraphQLHandler.hits = []
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_address[1]}/graphql"
    server.shutdown()
    server.server_close()


def _expected() -> list[tuple]:
    return sorted((r["entity_id"], r["edge_id"], r["score"]) for r in DATA)


def test_batch_live_mode_fetches_all_pages(spark, http_server):
    from database_scan_spark.sources import register
    from database_scan_spark.sources.graphql_snapshot import make_datasource

    register(spark, make_datasource())
    df = (
        spark.read.format("graphql_snapshot")
        .option("mode", "live")
        .option("endpoint", http_server)
        .option("query", "query Pages($index: Int!, $size: Int!) { rows }")
        .option("page_size", str(PAGE_SIZE))
        .option("rate_per_sec", "1e6")  # unthrottled: tests stay fast
        .load()
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got == _expected()
    # 20 rows at size 7 = exactly 3 POSTs (the short last page stops
    # the cursor without a 4th probe).
    assert len(_GraphQLHandler.hits) == 3
    assert all(h["variables"]["size"] == PAGE_SIZE for h in _GraphQLHandler.hits)


def test_batch_live_mode_requires_endpoint(spark):
    from database_scan_spark.sources import register
    from database_scan_spark.sources.graphql_snapshot import make_datasource

    register(spark, make_datasource())
    with pytest.raises(Exception, match="endpoint"):
        spark.read.format("graphql_snapshot").option("mode", "live").load().collect()


def test_stream_live_mode_one_page_per_batch_and_spool(
    spark, http_server, tmp_path
):
    from database_scan_spark.sources import register
    from database_scan_spark.sources.page_stream import make_page_stream_source

    register(spark, make_page_stream_source())
    spool = str(tmp_path / "spool")
    q = (
        spark.readStream.format("page_stream")
        .option("mode", "live")
        .option("endpoint", http_server)
        .option("spool_dir", spool)
        .option("page_size", str(PAGE_SIZE))
        .option("rate_per_sec", "1e6")
        .load()
        .writeStream.format("memory")
        .queryName("live_pages")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        # availableNow coalesces a Python source's backlog into one
        # batch — the page-per-batch cadence needs a real trigger loop
        # (same recipe as src_python_stream_datasource).
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM live_pages").collect()
    )
    assert got == _expected()
    # Pages were spooled (fingerprint-namespaced) and COMMITTED pages
    # were pruned — the spool must not grow with stream lifetime. The
    # final commit may race q.stop(), so allow at most one survivor.
    fp_dirs = os.listdir(spool)
    assert len(fp_dirs) == 1  # one crawl fingerprint
    remaining = sorted(os.listdir(os.path.join(spool, fp_dirs[0])))
    assert len(remaining) <= 1, (
        f"committed spool pages were not pruned: {remaining}"
    )
    assert "page-0.jsonl" not in remaining


def test_stream_live_replay_uses_spool_not_api(http_server, tmp_path):
    """readBetweenOffsets on a committed range must be servable with
    the API GONE — that is what makes checkpoint recovery exactly-once
    against a remote source that may have changed."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from database_scan_spark.sources.page_stream import make_page_stream_source

    schema = StructType(
        [
            StructField("entity_id", LongType()),
            StructField("edge_id", LongType()),
            StructField("score", DoubleType()),
        ]
    )
    cls = make_page_stream_source()
    ds = cls(
        options={
            "mode": "live",
            "endpoint": http_server,
            "spool_dir": str(tmp_path / "spool"),
            "page_size": str(PAGE_SIZE),
            "rate_per_sec": "1e6",
        }
    )
    reader = ds.simpleStreamReader(schema)
    offset = reader.initialOffset()
    live_rows: list[tuple] = []
    while True:
        rows, nxt = reader.read(offset)
        rows = list(rows)
        if nxt == offset:
            break
        live_rows.extend(rows)
        offset = nxt
    assert sorted(live_rows) == _expected()
    hits_after_crawl = len(_GraphQLHandler.hits)

    replay = sorted(reader.readBetweenOffsets({"page": 0}, offset))
    assert replay == _expected()
    assert len(_GraphQLHandler.hits) == hits_after_crawl, (
        "committed-range replay re-POSTed the API instead of reading "
        "the spool"
    )

    # commit() prunes spooled pages below the committed offset; the
    # pages at/after it survive for replay.
    reader.commit({"page": 2})
    assert not os.path.exists(reader._spool_path(0))
    assert not os.path.exists(reader._spool_path(1))
    assert os.path.exists(reader._spool_path(2))
    assert sorted(reader.readBetweenOffsets({"page": 2}, {"page": 3})) == (
        sorted(
            (r["entity_id"], r["edge_id"], r["score"])
            for r in DATA[2 * PAGE_SIZE :]
        )
    )


def test_stream_spool_is_fingerprinted_per_crawl(http_server, tmp_path):
    """A reused spool_dir pointed at a DIFFERENT query/endpoint must
    not serve the previous crawl's pages as freshly fetched data."""
    from pyspark.sql.types import LongType, StructField, StructType

    from database_scan_spark.sources.page_stream import make_page_stream_source

    schema = StructType([StructField("entity_id", LongType())])
    cls = make_page_stream_source()

    def reader_for(query: str):
        return cls(
            options={
                "mode": "live",
                "endpoint": http_server,
                "spool_dir": str(tmp_path / "shared_spool"),
                "page_size": str(PAGE_SIZE),
                "rate_per_sec": "1e6",
                "query": query,
            }
        ).simpleStreamReader(schema)

    r1 = reader_for("query A { rows }")
    rows1, _ = r1.read(r1.initialOffset())
    assert len(list(rows1)) == PAGE_SIZE
    posts_after_r1 = len(_GraphQLHandler.hits)

    # Same spool_dir, different query: page 0 must be FETCHED (a new
    # POST), not served from reader 1's spool.
    r2 = reader_for("query B { rows }")
    rows2, _ = r2.read(r2.initialOffset())
    assert len(list(rows2)) == PAGE_SIZE
    assert len(_GraphQLHandler.hits) == posts_after_r1 + 1
    assert r1._spool_path(0) != r2._spool_path(0)


def test_live_error_response_fails_loud_not_exhausted(spark, tmp_path):
    """GraphQL transports errors as HTTP 200 `{\"errors\": ...}` —
    they must raise, never read as cursor exhaustion (silent
    truncation / healthy-looking stalled stream)."""
    from database_scan_spark.sources import register
    from database_scan_spark.sources.graphql_snapshot import make_datasource

    class _ErrHandler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            self.rfile.read(int(self.headers["Content-Length"]))
            payload = json.dumps(
                {"errors": [{"message": "rate limited"}]}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    try:
        server = ThreadingHTTPServer(("127.0.0.1", 0), _ErrHandler)
    except OSError:
        pytest.skip("loopback sockets unavailable in this sandbox")
    threading.Thread(target=server.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{server.server_address[1]}/graphql"
    register(spark, make_datasource())
    df = (
        spark.read.format("graphql_snapshot")
        .option("mode", "live")
        .option("endpoint", url)
        .option("rate_per_sec", "1e6")
        .load()
    )
    with pytest.raises(Exception, match="rate limited"):
        df.collect()
    server.shutdown()
    server.server_close()


def test_live_max_pages_truncation_fails_loud(spark, http_server):
    """Hitting max_pages with a still-full last page means data was
    provably left behind — that must raise, not return a silently
    truncated DataFrame."""
    from database_scan_spark.sources import register
    from database_scan_spark.sources.graphql_snapshot import make_datasource

    register(spark, make_datasource())
    df = (
        spark.read.format("graphql_snapshot")
        .option("mode", "live")
        .option("endpoint", http_server)
        .option("page_size", "5")  # 20 rows: pages 0-3 all FULL
        .option("max_pages", "2")  # cap below the real page count
        .option("rate_per_sec", "1e6")
        .load()
    )
    with pytest.raises(Exception, match="max_pages"):
        df.collect()


def test_batch_live_strict_mode_stops_only_on_empty_page(spark, http_server):
    """ADVICE r7: ``stop_on=empty_page`` keeps POSTing past a short
    page and ends the crawl only on an ACTUALLY-empty one — one extra
    probe POST buys the no-silent-truncation guarantee for APIs that
    legitimately serve short mid-crawl pages."""
    from database_scan_spark.sources import register
    from database_scan_spark.sources.graphql_snapshot import make_datasource

    register(spark, make_datasource())
    df = (
        spark.read.format("graphql_snapshot")
        .option("mode", "live")
        .option("endpoint", http_server)
        .option("stop_on", "empty_page")
        .option("page_size", str(PAGE_SIZE))
        .option("rate_per_sec", "1e6")
        .load()
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got == _expected()
    # 20 rows at size 7 = pages 7/7/6 + the empty probe page = 4 POSTs
    # (the default short_page mode stops at 3).
    assert len(_GraphQLHandler.hits) == 4

    with pytest.raises(Exception, match="stop_on"):
        (
            spark.read.format("graphql_snapshot")
            .option("mode", "live")
            .option("endpoint", http_server)
            .option("stop_on", "bogus")
            .load()
            .collect()
        )


def test_extract_rows_property_never_silently_wrong():
    """Property: for ANY payload shape, the row extractor either
    returns exactly the list at rows_path or raises — it can never
    return a different list, None, or treat an error body as data.
    (The silent-truncation class the round-7 review found, pinned
    against arbitrary nested shapes.)"""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from database_scan_spark.sources import graphql_snapshot, page_stream

    # Reach the closure-local helper through a tiny probe: both
    # factories define _extract_rows inside make_* for pickling; the
    # reader classes expose its behavior via a bound call. Rebuild the
    # helpers by executing the factory and grabbing the cell.
    def get_helper(factory):
        # _extract_rows is closure-local to the factory (by-value
        # pickling rule); walk closure cells transitively — the
        # DataSource class's methods close over the reader class,
        # whose methods close over the helper.
        seen: set = set()

        def walk(obj):
            if id(obj) in seen:
                return None
            seen.add(id(obj))
            if callable(obj) and getattr(obj, "__name__", "") == "_extract_rows":
                return obj
            fns = []
            if isinstance(obj, type):
                fns = [getattr(a, "__func__", a) for a in vars(obj).values()]
            elif callable(obj):
                fns = [getattr(obj, "__func__", obj)]
            for fn in fns:
                for cell in getattr(fn, "__closure__", None) or ():
                    try:
                        found = walk(cell.cell_contents)
                    except ValueError:  # empty cell
                        continue
                    if found is not None:
                        return found
            return None

        helper = walk(factory())
        assert helper is not None, "_extract_rows not found in factory closure"
        return helper

    json_scalars = st.none() | st.booleans() | st.integers() | st.text(max_size=8)
    payloads = st.recursive(
        json_scalars,
        lambda inner: st.lists(inner, max_size=4)
        | st.dictionaries(
            st.sampled_from(["data", "rows", "errors", "x", "target"]),
            inner,
            max_size=4,
        ),
        max_leaves=12,
    )

    def make_prop(_helper):
        @settings(max_examples=300, deadline=None)
        @given(payload=payloads, path=st.sampled_from(
            ["data.rows", "data", "data.target.rows", "x"]
        ))
        def prop(payload, path):
            if not isinstance(payload, dict):
                with pytest.raises(Exception):
                    _helper(payload, path)
                return
            try:
                out = _helper(payload, path)
            except (RuntimeError, ValueError):
                return  # loud is always acceptable
            # success: out must be EXACTLY the list at the path, and
            # the payload must not carry an errors key
            assert not payload.get("errors")
            node = payload
            for k in path.split("."):
                node = node[k]
            assert out is node and isinstance(out, list)

        return prop

    for factory_mod in (graphql_snapshot.make_datasource,
                        page_stream.make_page_stream_source):
        make_prop(get_helper(factory_mod))()


def _mutable_server(store: list, port: int = 0):
    """Loopback server whose row store the test mutates between polls
    (a growing/changing API). Pass ``port`` to resurrect a killed
    server at the same address (same crawl fingerprint/spool)."""

    class _Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            body = json.loads(
                self.rfile.read(int(self.headers["Content-Length"]))
            )
            var = body.get("variables", {})
            i, size = var.get("index", 0), var.get("size", PAGE_SIZE)
            payload = json.dumps(
                {"data": {"rows": store[i * size : (i + 1) * size]}}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    try:
        server = ThreadingHTTPServer(("127.0.0.1", port), _Handler)
    except OSError:
        pytest.skip("loopback sockets unavailable in this sandbox")
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, f"http://127.0.0.1:{server.server_address[1]}/graphql"


def _live_reader(endpoint: str, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from database_scan_spark.sources.page_stream import make_page_stream_source

    schema = StructType([StructField("entity_id", LongType())])
    return make_page_stream_source()(
        options={
            "mode": "live",
            "endpoint": endpoint,
            "spool_dir": str(tmp_path / "spool"),
            "page_size": str(PAGE_SIZE),
            "rate_per_sec": "1e6",
        }
    ).simpleStreamReader(schema)


def test_stream_live_short_page_grows_no_rows_skipped(tmp_path):
    """ADVICE r7 (medium): live offsets are ROW-granular, so a SHORT
    page re-polls in place and rows that later fill the remainder of
    its index range are served — the old page-granular cursor strode a
    full page past them, permanently skipping rows 3..6 here."""
    store = [{"entity_id": i} for i in range(3)]  # short page 0
    server, endpoint = _mutable_server(store)
    try:
        reader = _live_reader(endpoint, tmp_path)
        off = reader.initialOffset()
        rows, off = reader.read(off)
        assert [r[0] for r in rows] == [0, 1, 2]
        assert off == {"page": 0, "row": 3}  # cursor HELD at page 0

        # API grows: rows 3..9 arrive (fills page 0's range + a short
        # page 1). Every row must be served exactly once.
        store.extend({"entity_id": i} for i in range(3, 10))
        served = []
        while True:
            rows, nxt = reader.read(off)
            rows = list(rows)
            if nxt == off:
                break
            served.extend(r[0] for r in rows)
            off = nxt
        assert served == list(range(3, 10))
        assert off == {"page": 1, "row": 3}

        # Committed-range replay (row-granular slicing) from the spool.
        replay = [
            r[0]
            for r in reader.readBetweenOffsets({"page": 0, "row": 0}, off)
        ]
        assert replay == list(range(10))
        mid = [
            r[0]
            for r in reader.readBetweenOffsets(
                {"page": 0, "row": 3}, {"page": 1, "row": 2}
            )
        ]
        assert mid == list(range(3, 9))
    finally:
        server.shutdown()
        server.server_close()


def test_stream_live_mutated_served_rows_fail_loud(tmp_path):
    """Immutable-prefix contract: an API that mutates or shrinks rows
    the stream already served raises — never silently diverges from
    what was emitted downstream."""
    store = [{"entity_id": i} for i in range(3)]
    server, endpoint = _mutable_server(store)
    try:
        reader = _live_reader(endpoint, tmp_path)
        _, off = reader.read(reader.initialOffset())
        assert off == {"page": 0, "row": 3}

        store[1] = {"entity_id": 999}  # mutate a served row
        store.append({"entity_id": 3})  # and grow, forcing a re-read
        with pytest.raises(RuntimeError, match="mutated"):
            reader.read(off)

        del store[1:]  # shrink below the served prefix
        with pytest.raises(RuntimeError, match="disappear"):
            reader.read(off)
    finally:
        server.shutdown()
        server.server_close()


def test_stream_live_unserved_spooled_rows_refresh(tmp_path):
    """ADVICE r8 (low): rows spooled but never SERVED (the crash
    window between spool write and offset escape) carry no
    immutability guarantee — a re-poll must serve the API's CURRENT
    values for them, not re-serve the stale spool. Only the served
    prefix is frozen (and loud-or-exact, per the test above)."""
    store = [{"entity_id": i} for i in range(3)]
    server, endpoint = _mutable_server(store)
    try:
        reader_a = _live_reader(endpoint, tmp_path)
        _, off = reader_a.read(reader_a.initialOffset())
        assert off == {"page": 0, "row": 3}

        # API grows; reader A spools rows 3..4 but its new offset
        # never escapes (crash window) — downstream only committed 3.
        store.extend({"entity_id": i} for i in range(3, 5))
        reader_a.read(off)

        # API legitimately changes an UNSERVED row before the re-poll.
        store[3] = {"entity_id": 999}

        reader_b = _live_reader(endpoint, tmp_path)  # process restart
        rows, nxt = reader_b.read(off)
        assert [r[0] for r in rows] == [999, 4], (
            "unserved spooled rows must refresh from the live API"
        )
        assert nxt == {"page": 0, "row": 5}
    finally:
        server.shutdown()
        server.server_close()


def test_stream_live_restart_resumes_row_granular_cursor(tmp_path):
    """Driver-restart drill for the row-granular cursor: a FRESH
    reader (new process semantics — no in-memory state survives) must
    (a) replay every committed range from the spool with the API
    DEAD, and (b) continue the crawl from a mid-page offset without
    losing or duplicating a row once the API grows. This is exactly
    the sequence Structured Streaming drives after a driver crash:
    readBetweenOffsets(committed), then read(latest offset)."""
    store = [{"entity_id": i} for i in range(PAGE_SIZE + 3)]  # 7 + short 3
    server, endpoint = _mutable_server(store)
    reader_a = _live_reader(endpoint, tmp_path)
    off = reader_a.initialOffset()
    served = []
    while True:
        rows, nxt = reader_a.read(off)
        rows = list(rows)
        if nxt == off:
            break
        served.extend(r[0] for r in rows)
        off = nxt
    assert served == list(range(PAGE_SIZE + 3))
    assert off == {"page": 1, "row": 3}  # mid-page: the sharp case

    # "Crash": reader A is gone, and so is the API.
    port = server.server_address[1]
    server.shutdown()
    server.server_close()
    reader_b = _live_reader(endpoint, tmp_path)
    replay = [
        r[0]
        for r in reader_b.readBetweenOffsets({"page": 0, "row": 0}, off)
    ]
    assert replay == served, "spool replay diverged after restart"

    # API back up (SAME address → same crawl fingerprint/spool) and
    # GROWN: the fresh reader's cursor continues from the mid-page
    # offset — extension rows only, nothing re-served.
    store.extend({"entity_id": i} for i in range(PAGE_SIZE + 3, 2 * PAGE_SIZE))
    server2, endpoint2 = _mutable_server(store, port=port)
    assert endpoint2 == endpoint
    try:
        reader_c = _live_reader(endpoint2, tmp_path)
        cont = []
        while True:
            rows, nxt = reader_c.read(off)
            rows = list(rows)
            if nxt == off:
                break
            cont.extend(r[0] for r in rows)
            off = nxt
        assert cont == list(range(PAGE_SIZE + 3, 2 * PAGE_SIZE))
        assert off == {"page": 2, "row": 0}
        full = [
            r[0]
            for r in reader_c.readBetweenOffsets({"page": 0, "row": 0}, off)
        ]
        assert full == list(range(2 * PAGE_SIZE)), (
            "restarted crawl lost or duplicated rows"
        )
    finally:
        server2.shutdown()
        server2.server_close()


def test_live_rejects_nonpositive_rate(spark):
    from database_scan_spark.sources import register
    from database_scan_spark.sources.graphql_snapshot import make_datasource

    register(spark, make_datasource())
    df = (
        spark.read.format("graphql_snapshot")
        .option("mode", "live")
        .option("endpoint", "http://127.0.0.1:1/x")
        .option("rate_per_sec", "0")
        .load()
    )
    with pytest.raises(Exception, match="rate_per_sec"):
        df.collect()


def test_live_rejects_nonpositive_page_caps(spark):
    """max_pages=0 (or page_size=0) would end the crawl after zero
    rows WITHOUT tripping the non-exhausted-cursor guard — the one
    silent-truncation configuration left (VERDICT r9 item 7). Both
    are config errors now."""
    from database_scan_spark.sources import register
    from database_scan_spark.sources.graphql_snapshot import make_datasource

    register(spark, make_datasource())
    for opt, val, pat in (
        ("max_pages", "0", "max_pages"),
        ("page_size", "0", "page_size"),
    ):
        df = (
            spark.read.format("graphql_snapshot")
            .option("mode", "live")
            .option("endpoint", "http://127.0.0.1:1/x")
            .option(opt, val)
            .load()
        )
        with pytest.raises(Exception, match=pat):
            df.collect()
