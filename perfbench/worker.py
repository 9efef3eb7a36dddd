"""One benchmark process: session, registry, warm+check pass, timed passes.

Launched by ``run.py`` as a fresh interpreter in its own scratch cwd,
with the run's environment (cores, scratch roots, driver memory, and
for a traced run the event-log confs) already set. It drives the
engine only through its public surface — ``session.get_spark``,
``__spark_entry__.queries()`` / ``drain()`` — and writes one JSON
result file. Usage: ``python worker.py <config.json>``.

Set-up is timed from the parent's spawn timestamp to the first timed
query: interpreter start, session start, registry import and the warm
pass. The warm pass materialises each query with ``toPandas()`` and
checks it against the oracle digest; the digest/compare time is the
benchmark's own work and is subtracted from set-up.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback


class RssSampler(threading.Thread):
    """Peak VmRSS of one process, sampled while running."""

    def __init__(self, pid: int, period_s: float = 0.05):
        super().__init__(daemon=True)
        self.path = f"/proc/{pid}/status"
        self.period_s = period_s
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def _sample(self) -> None:
        with open(self.path) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                    return

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self._sample()
            self._stop_evt.wait(self.period_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self._sample()
        return self.peak_kb / 1024.0


class LoadCounter:
    """Counts and times ``catalog.load`` calls for the current query."""

    def __init__(self, load):
        self._load = load
        self.calls = 0
        self.seconds = 0.0

    def __call__(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return self._load(*args, **kwargs)
        finally:
            self.seconds += time.perf_counter() - t0
            self.calls += 1

    def take(self) -> tuple[int, float]:
        out = (self.calls, self.seconds)
        self.calls, self.seconds = 0, 0.0
        return out


def stream_listener(events: list):
    """A ``StreamingQueryListener`` that keeps every micro-batch's progress."""
    from pyspark.sql.streaming import StreamingQueryListener  # noqa: PLC0415

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            events.append({
                "timestamp": p.timestamp,
                "trigger_ms": p.durationMs.get("triggerExecution", 0),
                "input_rows": p.numInputRows,
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Listener()


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    sys.path.insert(0, cfg["repo"])
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from check import digest, mismatch  # noqa: PLC0415

    trace = cfg["trace"]
    out: dict = {"checks": {}, "records": [], "layers": {}}
    loads = None
    if trace:
        # operators bind ``load`` at import time: wrap it before the
        # registry is imported
        from database_scan_spark import catalog  # noqa: PLC0415

        loads = catalog.load = LoadCounter(catalog.load)

    t = time.perf_counter()
    from database_scan_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark("perfbench")
    out["layers"]["session.get_spark_s"] = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    progress: list = []
    if trace:
        listener = stream_listener(progress)
        spark.streams.addListener(listener)
    t = time.perf_counter()
    import __spark_entry__ as entry  # noqa: PLC0415

    qs = entry.queries()
    out["layers"]["entry.import_s"] = time.perf_counter() - t
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    out["broadcast_threshold"] = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sf = cfg["sf_dir"]
    modules = {}
    if trace:
        from database_scan_spark.registry import get  # noqa: PLC0415

        for name in cfg["queries"]:
            if name in qs:
                mod = get(name).fn.__module__
                modules[name] = mod.removeprefix("database_scan_spark.")

    # warm pass doubles as the once-per-run output check
    bench_s = 0.0
    for name in cfg["orders"][0]:
        if name not in qs or name not in cfg["expected"]:
            continue  # missing query or oracle: counted as failed by the parent
        entry.drain()
        try:
            pdf = qs[name](spark, sf).toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed query is a result
            out["checks"][name] = f"{name}: {type(exc).__name__}: {exc}"[:500]
            continue
        t = time.perf_counter()
        out["checks"][name] = mismatch(name, digest(pdf), cfg["expected"][name])
        bench_s += time.perf_counter() - t
    entry.drain()
    if loads is not None:
        loads.take()
    out["setup_s"] = time.time() - cfg["spawn_ts"] - bench_s

    rss = RssSampler(jvm_pid)
    rss.start()
    t_timed = time.perf_counter()
    for p, order in enumerate(cfg["orders"][1:]):
        for name in order:
            rec = {"name": name, "pass": p, "ok": False}
            out["records"].append(rec)
            if name not in qs:
                rec["error"] = f"{name}: missing from queries()"
                continue
            d0 = time.perf_counter()
            entry.drain()
            rec["drain_s"] = time.perf_counter() - d0
            rec["t0"] = time.time()
            p0 = time.perf_counter()
            try:
                df = qs[name](spark, sf)
                p1 = time.perf_counter()
                rec["t1"] = time.time()
                rec["persists"] = len(entry._ENGINE_PERSISTS)
                df.write.format("noop").mode("overwrite").save()
                p2 = time.perf_counter()
                rec["t2"] = time.time()
            except Exception as exc:  # noqa: BLE001 - a failed query is a result
                rec["error"] = f"{name}: {type(exc).__name__}: {exc}"[:500]
                rec["t2"] = time.time()
                if loads is not None:
                    loads.take()
                continue
            rec.update(ok=True, build_s=p1 - p0, exec_s=p2 - p1, latency_s=p2 - p0)
            if trace:
                rec["module"] = modules[name]
                rec["load_calls"], rec["load_s"] = loads.take()
    out["timed_s"] = time.perf_counter() - t_timed
    out["peak_rss_mb"] = rss.stop()
    entry.drain()
    if trace:
        # progress events reach the listener asynchronously
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)
        out["stream_progress"] = progress
    spark.stop()  # flushes and closes the event log of a traced run
    with open(cfg["out"], "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    try:
        main(sys.argv[1])
    except Exception:
        traceback.print_exc()
        sys.exit(1)
