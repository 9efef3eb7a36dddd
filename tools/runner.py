"""How a registry query runs through the driver contract.

Every timing and verification tool (``bench.py`` and ``tools/*``) runs
queries through this module, so the protocol is decided once:

- queries come from ``__spark_entry__.queries()``, whose ``_released``
  wrapper releases the caches the previous query recorded with
  ``session.persist``, bounding the session to one query's;
- ``drain()`` releases the previous query's caches OUTSIDE the clock;
- the Spark job description is the query name;
- timed runs apply ``bench.EXTRA_CONFS`` through
  ``session.scoped_confs``, which restores them even when the query
  raises;
- the result is materialised through the noop sink, so the whole plan
  executes without a collect;
- ``layers`` reads what one run of each query actually executed from
  Spark's event log, through perfbench's parser (``perfbench/layers.py``);
- ``check`` compares ``toPandas()`` with the DuckDB oracle from
  ``oracle_sql()``, run through ``materialize_ctes`` (a result-neutral
  rewrite that stops DuckDB re-evaluating shared CTEs per reference).
  It applies no EXTRA_CONFS: verification keeps the driver's envelope.

Tools import this module inside ``main()``; importing it starts nothing.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import time
from collections.abc import Iterable, Iterator

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
for _p in (REPO, TOOLS):
    if _p not in sys.path:
        sys.path.insert(0, _p)


def vanilla_session(master: str = "local[8]", driver_memory: str | None = None,
                    confs: Iterable[str] = ()):
    """A session with none of the engine's configs, as the driver builds
    it. ``confs`` are ``key=value`` strings (the tools' ``--conf``)."""
    from pyspark.sql import SparkSession  # noqa: PLC0415

    b = SparkSession.builder.master(master)
    if driver_memory:
        b = b.config("spark.driver.memory", driver_memory)
    for kv in confs:
        k, _, v = kv.partition("=")
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def engine_session(app: str):
    """The engine's tuned session (``session.get_spark``), as the bench
    runs it."""
    from database_scan_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@functools.cache
def contract() -> tuple[dict, dict]:
    """``(queries(), oracle_sql())`` of the driver contract."""
    import __spark_entry__ as entry  # noqa: PLC0415

    return entry.queries(), entry.oracle_sql()


@contextlib.contextmanager
def _described(spark, name: str) -> Iterator[None]:
    spark.sparkContext.setJobDescription(name)
    try:
        yield
    finally:
        spark.sparkContext.setJobDescription(None)


class Run(tuple):
    """``(build_s, exec_s)`` of one run. ``t0``/``t1``/``t2`` are its epoch
    stamps (build start, build end, exec end): the windows by which
    perfbench's event-log parser attributes Spark events to a query.
    ``compiles`` is how many generated classes the run compiled, i.e.
    missed Spark's codegen cache."""

    def __new__(cls, t0: float, t1: float, t2: float, compiles: int):
        run = super().__new__(cls, (t1 - t0, t2 - t1))
        run.t0, run.t1, run.t2, run.compiles = t0, t1, t2, compiles
        return run


def compile_count(spark) -> int:
    """Generated classes this JVM has compiled so far (Spark's
    ``CodegenMetrics`` compilation-time histogram; the driver and, in
    local mode, every task count into it)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def run_once(spark, name: str, sf_dir: str) -> Run:
    """One timed run to the noop sink: ``(build_s, exec_s)``, as a ``Run``."""
    import __spark_entry__ as entry  # noqa: PLC0415
    from bench import EXTRA_CONFS  # noqa: PLC0415
    from database_scan_spark.session import scoped_confs  # noqa: PLC0415

    with scoped_confs(spark, EXTRA_CONFS.get(name, {})):
        entry.drain()
        with _described(spark, name):
            c0 = compile_count(spark)
            t0 = time.time()
            df = contract()[0][name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            return Run(t0, t1, t2, compile_count(spark) - c0)


def warm(spark, names: Iterable[str], sf_dir: str) -> None:
    """Untimed pass: pays first-touch costs (codegen JIT, Arrow import,
    marker-guarded fixture staging) so timed runs measure the plan. A
    failure is reported and left for the timed run to raise."""
    for name in names:
        try:
            run_once(spark, name, sf_dir)
        except Exception as exc:  # noqa: BLE001
            print(f"WARM FAIL {name}: {str(exc)[:200]}", file=sys.stderr)


def timed(spark, name: str, sf_dir: str) -> list[tuple[float, float]]:
    """Two timed runs; callers keep the min."""
    return [run_once(spark, name, sf_dir) for _ in range(2)]


def warm_min(spark, name: str, sf_dir: str) -> float:
    """Warm run, then the min wall time of two timed runs."""
    warm(spark, [name], sf_dir)
    return min(b + e for b, e in timed(spark, name, sf_dir))


def layers(names: Iterable[str], sf_dir: str) -> dict[str, dict]:
    """What one recorded run of each query executed, per name: a warm
    pass, then one ``run_once`` each, in a fresh vanilla session with
    Spark's event log on; the session is stopped and the log deleted.
    Counts come from ``perfbench/layers.per_query``, where a plan node
    counts only if its metrics updated, i.e. it actually ran, except
    ``compiles`` (``Run.compiles``). The vanilla session keeps Spark's
    100-entry codegen cache, so with more than one name the recorded
    pass recompiles what the warm pass evicted."""
    import glob  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from pyspark import SparkContext  # noqa: PLC0415

    if SparkContext._active_spark_context is not None:  # noqa: SLF001
        raise RuntimeError("runner.layers starts and stops its own session; "
                           "call it in a process that has none")
    perfbench = os.path.join(REPO, "perfbench")
    if perfbench not in sys.path:  # layers.py imports workloads by bare name
        sys.path.append(perfbench)
    from layers import MB, per_query  # noqa: PLC0415

    names = list(names)
    log_dir = tempfile.mkdtemp(prefix="spark-graft-eventlog-")
    try:
        spark = vanilla_session(confs=[
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ])
        try:
            warm(spark, names, sf_dir)
            runs = [run_once(spark, name, sf_dir) for name in names]
        finally:
            spark.stop()  # closes the log (drops its .inprogress suffix)
        (log,) = glob.glob(os.path.join(log_dir, "*"))
        per = per_query([vars(r) for r in runs], log, [])
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    return {
        name: {
            "build_s": round(run[0], 3),
            "exec_s": round(run[1], 3),
            "scans": {
                k[9:] or "other": v for k, v in sorted(c.items()) if k.startswith("ran.scan.")
            },
            "shuffles": c.get("ran.shuffle", 0),
            "reused": c.get("reused", 0),
            "broadcasts": c.get("ran.broadcast", 0),
            "broadcast_mb": round(c.get("bcast_b", 0) / MB, 2),
            "cache_reads": c.get("ran.inmemory", 0),
            "build_jobs": c.get("build.jobs", 0),
            "exec_jobs": c.get("exec.jobs", 0),
            "compiles": run.compiles,
        }
        for name, run, c in zip(names, runs, per)
    }


def result(spark, name: str, sf_dir: str):
    """``name``'s result as pandas, through ``queries()``."""
    with _described(spark, name):
        return contract()[0][name](spark, sf_dir).toPandas()


def check(spark, name: str, sf_dir: str) -> int:
    """Hash-compare ``name`` with its DuckDB oracle; raise
    ``AssertionError`` naming the query on a mismatch. Returns the row
    count. A query without an oracle is only run."""
    from database_scan_spark.testing import assert_match, run_oracle  # noqa: PLC0415
    from verify_scale import materialize_ctes  # noqa: PLC0415

    got = result(spark, name, sf_dir)
    oracle = contract()[1].get(name)
    if oracle is not None:
        assert_match(got, run_oracle(materialize_ctes(oracle), sf_dir), name)
    return len(got)
