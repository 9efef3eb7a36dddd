"""Session cache lifecycle at the driver contract boundary.

Operators cache intermediates with `session.persist` and cannot
unpersist behind their own lazily-returned result, so the lifetime
contract is session-level: `__spark_entry__.queries()` releases the
previous query's recorded persists on each query's entry, bounding a
sequential sweep to at most one query's cached relations (SCALE.md
"Cache lifecycle").

The release is recorded, not `clearCache()`: a cache the CALLER
created (e.g. a pre-cached input table) must survive engine queries
running around it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

SF = "/root/testdata/sf0.001"

# A spec that persists intermediates (graph fixpoints do), followed by
# any second spec: after B starts, A's caches must be gone.
_PERSISTING = "graph_pagerank"
_NEXT = "agg_count"


def _cached_relations(spark) -> int:
    # InMemoryRelations materialize RDD storage lazily; storage info is
    # the observable (it is what OOMs a long sweep). Count cached RDDs.
    return len([r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()])


def _clear_storage(spark) -> None:
    # clearCache() drops the catalog's caches but not a localCheckpoint
    # an earlier test left resident (the CC and SCC fixpoints checkpoint
    # their rounds, which `release()` does not record); start from
    # empty storage so the counts below are this test's own.
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    assert _cached_relations(spark) == 0


def test_second_query_releases_first_querys_caches(spark):
    qs = entry_mod.queries()

    _clear_storage(spark)
    a = qs[_PERSISTING](spark, SF)
    a_rows = a.count()  # materialize: A's persists are now resident
    assert a_rows > 0
    resident_after_a = _cached_relations(spark)
    assert resident_after_a > 0, (
        "probe spec no longer persists anything — pick another spec "
        "or this test is vacuous"
    )

    b = qs[_NEXT](spark, SF)
    # Entry into B must have released A's caches (before B builds its
    # own): the resident set cannot ACCUMULATE across sequential
    # queries through the contract surface.
    resident_at_b_entry = _cached_relations(spark)
    assert resident_at_b_entry == 0, (
        f"query entry leaked {resident_at_b_entry} cached relations "
        f"from the previous query (was {resident_after_a} after it ran)"
    )
    assert b.count() > 0

    # And the raw spec path (tests) releases nothing itself: no
    # implicit clear when calling spec.fn directly.
    from database_scan_spark.registry import get

    spark.catalog.clearCache()
    get(_PERSISTING).fn(spark, SF).count()
    direct = _cached_relations(spark)
    get(_NEXT).fn(spark, SF).count()
    assert _cached_relations(spark) >= direct, (
        "direct spec.fn path must not implicitly clear caches"
    )
    spark.catalog.clearCache()


def test_caller_caches_survive_engine_queries(spark):
    """A cache the CALLER owns is not collateral of the engine's
    release discipline (ADVICE r5: the r4-r5 clearCache() dropped it).
    """
    from database_scan_spark.catalog import load

    qs = entry_mod.queries()
    spark.catalog.clearCache()

    caller_df = load(spark, SF, "nation").persist()
    assert caller_df.count() > 0  # materialize the caller's cache
    assert caller_df.storageLevel.useMemory

    # Run a persisting engine query, then a second one (whose entry
    # releases the first's tracked persists).
    qs[_PERSISTING](spark, SF).count()
    qs[_NEXT](spark, SF).count()

    # The caller's cache is still marked persistent and still resident.
    assert caller_df.storageLevel.useMemory, (
        "engine query entry unpersisted a caller-owned cache"
    )
    assert _cached_relations(spark) >= 1
    caller_df.unpersist()
    spark.catalog.clearCache()


def test_persist_intercept_is_scoped(spark):
    """Nothing patches DataFrame.persist: after queries() returns, a
    caller persist must not be recorded (and so must survive the next
    engine entry)."""
    from pyspark.sql import DataFrame

    from database_scan_spark.catalog import load

    qs = entry_mod.queries()
    orig = DataFrame.persist
    qs[_NEXT](spark, SF).count()
    assert DataFrame.persist is orig, (
        "persist intercept leaked past the query-construction scope"
    )
    # A caller persist made now must not enter the engine's tracked set.
    before = list(entry_mod._ENGINE_PERSISTS)
    caller_df = load(spark, SF, "region").persist()
    assert len(entry_mod._ENGINE_PERSISTS) == len(before)
    caller_df.unpersist()
    spark.catalog.clearCache()


def test_second_thread_persist_during_build_is_not_tracked(spark):
    """Only ``session.persist`` records: a plain ``persist()`` issued
    by a caller thread mid-build is a caller cache, never recorded, so
    never drained by the next engine entry."""
    import threading

    from database_scan_spark.catalog import load
    from database_scan_spark.session import persist

    spark.catalog.clearCache()
    entry_mod._ENGINE_PERSISTS.clear()
    caller_holder: list = []

    def caller_thread() -> None:
        caller_holder.append(load(spark, SF, "region").persist())

    def engine_fn(s, sf):
        df = persist(load(s, sf, "nation"))  # engine-owned: tracked
        t = threading.Thread(target=caller_thread)
        t.start()
        t.join()
        return df

    wrapped = entry_mod._released(engine_fn)
    wrapped(spark, SF).count()
    caller_df = caller_holder[0]
    tracked_ids = {id(d) for d in entry_mod._ENGINE_PERSISTS}
    assert id(caller_df) not in tracked_ids, (
        "a second thread's persist during the build window was "
        "attributed to the engine"
    )
    assert len(entry_mod._ENGINE_PERSISTS) == 1  # the engine's own
    # The next engine entry drains only the engine persist.
    caller_df.count()
    entry_mod._released(lambda s, sf: load(s, sf, "nation"))(spark, SF)
    assert caller_df.storageLevel.useMemory, (
        "next engine entry unpersisted the second thread's caller cache"
    )
    caller_df.unpersist()
    spark.catalog.clearCache()


def test_nested_wrapped_call_does_not_drain_outer_caches(spark):
    """Reentrancy: a wrapped query invoking another wrapped query must
    not drain the outer query's live persists mid-build, and must
    leave DataFrame.persist as it found it."""
    from pyspark.sql import DataFrame

    from database_scan_spark.catalog import load
    from database_scan_spark.session import persist

    spark.catalog.clearCache()
    entry_mod._ENGINE_PERSISTS.clear()
    orig_persist = DataFrame.persist

    inner = entry_mod._released(lambda s, sf: load(s, sf, "region"))

    def outer_fn(s, sf):
        live = persist(load(s, sf, "nation"))
        live.count()  # materialize so an unpersist would be observable
        assert live.storageLevel.useMemory
        inner_df = inner(s, sf)  # nested wrapped call: passthrough
        assert live.storageLevel.useMemory, (
            "nested entry drained the outer query's live cache"
        )
        return live.join(
            inner_df, live["n_regionkey"] == inner_df["r_regionkey"]
        ).select("n_name", "r_name")

    out = entry_mod._released(outer_fn)(spark, SF)
    assert out.count() > 0
    assert DataFrame.persist is orig_persist, "persist left double-wrapped"
    assert entry_mod._BUILD_OWNER is None
    # A fresh entry still drains normally afterwards.
    entry_mod._released(lambda s, sf: load(s, sf, "nation"))(spark, SF)
    assert len(entry_mod._ENGINE_PERSISTS) == 0
    spark.catalog.clearCache()


def test_concurrent_wrapped_entry_fails_loud(spark):
    """Two threads inside wrapped queries at once is a contract
    violation the drain step cannot survive silently — assert it."""
    import threading

    from database_scan_spark.catalog import load

    errors: list = []

    def other_query() -> None:
        try:
            entry_mod._released(lambda s, sf: load(s, sf, "region"))(spark, SF)
        except RuntimeError as exc:
            errors.append(exc)

    def blocking_fn(s, sf):
        t = threading.Thread(target=other_query)
        t.start()
        t.join()
        return load(s, sf, "nation")

    entry_mod._released(blocking_fn)(spark, SF)
    assert len(errors) == 1 and "sequentially" in str(errors[0])
    assert entry_mod._BUILD_OWNER is None


def test_persist_on_a_build_spawned_thread_is_released(spark):
    """Ownership is decided where the persist is written, not by which
    thread issues it: a ``session.persist`` on a worker thread the
    build itself spawns is recorded and released at the next entry."""
    import threading

    from database_scan_spark.catalog import load
    from database_scan_spark.session import persist

    spark.catalog.clearCache()
    entry_mod._ENGINE_PERSISTS.clear()
    made: list = []

    def threaded_fn(s, sf):
        t = threading.Thread(target=lambda: made.append(persist(load(s, sf, "nation"))))
        t.start()
        t.join()
        return made[0]

    cached = entry_mod._released(threaded_fn)(spark, SF)
    assert cached.count() > 0
    assert cached.storageLevel.useMemory
    assert [id(d) for d in entry_mod._ENGINE_PERSISTS] == [id(cached)], (
        "a persist on a build-spawned thread was not recorded"
    )
    entry_mod._released(lambda s, sf: load(s, sf, "region"))(spark, SF)
    assert not cached.storageLevel.useMemory, (
        "a build-spawned thread's persist was not released on the next entry"
    )
    assert not entry_mod._ENGINE_PERSISTS
    spark.catalog.clearCache()


def test_drain_releases_between_queries(spark):
    """The out-of-band drain (bench.py, perfbench): calling
    ``__spark_entry__.drain()`` between queries releases the previous
    query's engine persists immediately, so the next query's timed
    region starts with nothing to drain."""
    qs = entry_mod.queries()
    _clear_storage(spark)
    qs[_PERSISTING](spark, SF).count()
    assert _cached_relations(spark) > 0
    entry_mod.drain()
    assert _cached_relations(spark) == 0, "drain() left engine caches resident"
    # idempotent when idle
    entry_mod.drain()
    assert qs[_NEXT](spark, SF).count() > 0
    spark.catalog.clearCache()


# catalog.load's permanent reader pins (README "Correctness model")
_CATALOG_PINS = {
    "spark.sql.session.timeZone",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "spark.sql.legacy.parquet.nanosAsLong",
}


_CONF_QUERIES = (
    "join_bloom_prefilter",
    "catalog_stats_cbo",
    "udtf_rle_tokens",
    "udtf_analyze_parse",
    "udtf_table_arg",
    "stream_tws_type_counts",
    "src_python_stream_datasource",
    "stream_corpus_ingest",
)


def _confs_left_behind(spark) -> dict[str, list[str]]:
    """Run each of ``_CONF_QUERIES`` in a session that has none of their
    confs set yet (its own conf, shared SparkContext) and return, per
    query, the explicitly set confs that changed, apart from the catalog
    pins."""
    qs = entry_mod.queries()
    leaked = {}
    for name in _CONF_QUERIES:
        session = spark.newSession()
        before = session.conf.getAll
        qs[name](session, SF).write.format("noop").mode("overwrite").save()
        entry_mod.drain()
        after = session.conf.getAll
        changed = {
            k for k in before.keys() | after.keys()
            if before.get(k) != after.get(k)
        } - _CATALOG_PINS
        if changed:
            leaked[name] = sorted(changed)
    return leaked


def test_queries_leave_no_session_conf_behind(tmp_path):
    """The driver runs queries one after another in one shared session,
    so a conf a query sets must not outlive it. The check runs in a
    fresh process: a Python data source registered in a session cannot
    be used from a ``newSession()`` child (``sources.register``), so in
    the suite's shared session ``src_python_stream_datasource`` would
    pass or fail by which tests ran before."""
    tests = os.path.dirname(os.path.abspath(__file__))
    code = (
        f"import json, sys; sys.path.insert(0, {tests!r}); "
        "import test_cache_lifecycle as t; "
        "from database_scan_spark.session import get_spark; "
        "print(json.dumps(t._confs_left_behind(get_spark('conf-leak', shuffle_partitions=8))))"
    )
    env = dict(os.environ, SPARK_GRAFT_TMP=str(tmp_path), SPARK_DRIVER_MEM="2g")
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=tmp_path, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-4000:]
    leaked = json.loads(r.stdout.splitlines()[-1])
    assert not leaked, f"queries left confs behind: {leaked}"
