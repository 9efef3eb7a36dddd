"""Per-layer metrics of a traced run, read from outside the package.

Inputs: the worker's per-query records (wall-clock windows for the
builder call and the noop action, plus the in-process counters:
``catalog.load`` calls, ``_ENGINE_PERSISTS`` size, ``drain()`` time),
the micro-batch progress its ``StreamingQueryListener`` saw, and
Spark's own event log (uncompressed, not rolling). Every event is
attributed to the query whose window contains it — queries run
strictly one after another — and to its build or exec phase.

From the event log:
- jobs, stages and tasks, with task CPU, GC, spill and shuffle bytes;
  ``exec.s`` is the time Spark jobs of the action were running (the
  union of their spans), so ``latency - entry.build_s - exec.s`` is
  driver-side time no job covers (``trace.unaccounted_s``);
- the executed plans (``SQLExecutionStart`` and every AQE update):
  a plan node counts as having run when any of its SQL metrics got an
  update, so cached subplans that are inlined into later plans but not
  re-executed are not counted again. Rows into a Python node are the
  output rows of the nodes that feed it.

All metrics are per timed pass (totals divided by the pass count).
"""

from __future__ import annotations

import bisect
import collections
import datetime as dt
import json
import re

from workloads import MODULES

MB = float(2**20)
LAYER_METRICS: list[tuple[str, str]] = [
    ("session.get_spark_s", "s"),
    ("entry.import_s", "s"),
    ("catalog.load_calls", "count"),
    ("catalog.load_s", "s"),
    ("entry.build_s", "s"),
    ("entry.build_jobs", "count"),
    ("entry.persists", "count"),
    ("entry.drain_s", "s"),
    ("exec.s", "s"),
    ("exec.wall_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("scan.runtime_scans", "count"),
    ("scan.runtime_scans.lineitem", "count"),
    ("scan.runtime_scans.orders", "count"),
    ("scan.runtime_scans.documents", "count"),
    ("scan.mb", "MB"),
    ("shuffle.exchanges", "count"),
    ("shuffle.reused_exchanges", "count"),
    ("shuffle.write_mb", "MB"),
    ("shuffle.read_mb", "MB"),
    ("broadcast.builds", "count"),
    ("broadcast.mb", "MB"),
    ("cache.inmemory_scans", "count"),
    ("cache.reuse_ratio", "ratio"),
    ("spill.mb", "MB"),
    ("task.cpu_s", "s"),
    ("task.gc_s", "s"),
    ("aqe.replans", "count"),
    ("python.rows_in", "count"),
    ("python.mb_in", "MB"),
    ("python.eval_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.batch_s", "s"),
    ("streaming.input_rows", "count"),
    ("trace.throughput_qpm", "queries/min"),
    ("trace.overhead_ratio", "ratio"),
    ("trace.unaccounted_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
] + [(f"{m}.{k}", "s") for m in MODULES for k in ("build_s", "exec_s")]

_TABLE = re.compile(r"/(\w+)\.parquet\]")
_SLACK_MS = 5
_PYTHON_TIME = "time to run Python workers"
_ROW_METRICS = ("number of output rows", "shuffle records written")


class _Windows:
    """Maps an epoch-ms timestamp to (record index, phase)."""

    def __init__(self, records: list[dict]):
        self.recs = [(i, r) for i, r in enumerate(records) if "t0" in r]
        self.starts = [r["t0"] * 1000 - _SLACK_MS for _, r in self.recs]

    def find(self, ms: float) -> tuple[int, str] | None:
        k = bisect.bisect_right(self.starts, ms) - 1
        if k < 0:
            return None
        i, r = self.recs[k]
        if ms > r["t2"] * 1000 + _SLACK_MS:
            return None
        return i, ("build" if ms < r.get("t1", r["t2"]) * 1000 else "exec")


def _walk(node: dict, fn) -> None:
    fn(node)
    for child in node.get("children", []):
        _walk(child, fn)


def _scale(metric_type: str, value: float) -> float:
    """SQL metric value in base units (seconds for times, bytes, rows)."""
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    return value


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1e3


def _input_row_accs(node: dict) -> list[int]:
    """Row-count accumulators of the nearest nodes below ``node`` that
    count rows (a Project or an InputAdapter between them has none)."""
    out = []
    for child in node.get("children", []):
        accs = [m["accumulatorId"] for m in child.get("metrics", []) if m["name"] in _ROW_METRICS]
        out += accs or _input_row_accs(child)
    return out


def per_query(records: list[dict], event_log: str, progress: list[dict]) -> list[dict]:
    """Event-log and listener counters for each record (empty dict if none)."""
    win = _Windows(records)
    q = collections.defaultdict(collections.Counter)
    job_of: dict[int, tuple[int, str, float]] = {}
    stage_of: dict[int, tuple[int, str]] = {}
    exec_of: dict[int, int] = {}
    final_plan: dict[int, dict] = {}
    acc_node: dict[int, tuple[int, str, str, str]] = {}  # acc -> node uid, kind, metric, type
    node_table: dict[int, str] = {}
    py_input: set[int] = set()  # accumulators counting rows into a Python node
    updates: list[tuple[int, int, float]] = []  # (record, acc, value)
    job_spans = collections.defaultdict(list)

    def register(plan: dict) -> None:
        def visit(node: dict) -> None:
            metrics = node.get("metrics", [])
            if not metrics:
                return
            uid = metrics[0]["accumulatorId"]
            name = node["nodeName"]
            names = {m["name"] for m in metrics}
            if name.startswith("Scan parquet"):
                kind = "scan"
                m = _TABLE.search(node.get("metadata", {}).get("Location", ""))
                node_table[uid] = m.group(1) if m else ""
            elif name == "Exchange":
                kind = "shuffle"
            elif name == "BroadcastExchange":
                kind = "broadcast"
            elif name == "InMemoryTableScan":
                kind = "inmemory"
            elif _PYTHON_TIME in names:
                kind = "python"
                py_input.update(_input_row_accs(node))
            else:
                return
            for m in metrics:
                acc_node[m["accumulatorId"]] = (uid, kind, m["name"], m["metricType"])

        _walk(plan, visit)

    with open(event_log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                hit = win.find(ev["Submission Time"])
                if hit is None:
                    continue
                job_of[ev["Job ID"]] = (*hit, ev["Submission Time"])
                q[hit[0]][f"{hit[1]}.jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_of[sid] = hit
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_of:
                    i, phase, start = job_of[ev["Job ID"]]
                    if phase == "exec":
                        job_spans[i].append((start, ev["Completion Time"]))
            elif kind == "SparkListenerStageCompleted":
                hit = stage_of.get(ev["Stage Info"]["Stage ID"])
                if hit is not None and "Failure Reason" not in ev["Stage Info"]:
                    q[hit[0]][f"{hit[1]}.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                hit = stage_of.get(ev["Stage ID"])
                if hit is None:
                    continue
                i, c = hit[0], q[hit[0]]
                c[f"{hit[1]}.tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                c["cpu_ns"] += tm.get("Executor CPU Time", 0)
                c["gc_ms"] += tm.get("JVM GC Time", 0)
                c["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                c["sw_b"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics", {})
                c["sr_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                for a in ev["Task Info"].get("Accumulables", []):
                    if isinstance(a.get("Update"), (int, float, str)):
                        try:
                            updates.append((i, a["ID"], float(a["Update"])))
                        except ValueError:
                            pass
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                hit = win.find(ev["time"])
                register(ev["sparkPlanInfo"])
                if hit is not None:
                    exec_of[ev["executionId"]] = hit[0]
                    final_plan[ev["executionId"]] = ev["sparkPlanInfo"]
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                register(ev["sparkPlanInfo"])
                i = exec_of.get(ev["executionId"])
                if i is not None:
                    q[i]["aqe_updates"] += 1
                    final_plan[ev["executionId"]] = ev["sparkPlanInfo"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                i = exec_of.get(ev["executionId"])
                if i is not None:
                    updates.extend((i, acc, float(v)) for acc, v in ev["accumUpdates"])

    for prog in progress:
        ts = dt.datetime.fromisoformat(prog["timestamp"].replace("Z", "+00:00"))
        hit = win.find(ts.timestamp() * 1000)
        if hit is not None:
            c = q[hit[0]]
            c["stream_batches"] += 1
            c["stream_ms"] += prog["trigger_ms"]
            c["stream_rows"] += prog["input_rows"]

    ran = collections.defaultdict(set)  # record -> {(kind, uid)}
    for i, acc, value in updates:
        if acc in py_input:
            q[i]["py_rows_in"] += value
        info = acc_node.get(acc)
        if info is None:
            continue
        uid, kind, metric, mtype = info
        ran[i].add((kind, uid))
        c = q[i]
        v = _scale(mtype, value)
        if kind == "scan" and metric == "size of files read":
            c["scan_b"] += v
        elif kind == "broadcast" and metric == "data size":
            c["bcast_b"] += v
        elif kind == "python":
            if metric == _PYTHON_TIME:
                c["py_s"] += v
            elif metric == "data sent to Python workers":
                c["py_in_b"] += v
    for i, nodes in ran.items():
        c = q[i]
        for kind, uid in nodes:
            c[f"ran.{kind}"] += 1
            if kind == "scan":
                c[f"ran.scan.{node_table.get(uid, '')}"] += 1
    for ex, plan in final_plan.items():
        i = exec_of[ex]

        def count_reused(node: dict, c=q[i]) -> None:
            if node["nodeName"] == "ReusedExchange":
                c["reused"] += 1

        _walk(plan, count_reused)
    for i, spans in job_spans.items():
        q[i]["job_s"] = _union_s(spans)
    return [dict(q.get(i, {})) for i in range(len(records))]


def summarize(records: list[dict], per: list[dict], passes: int, head: dict) -> dict:
    """Per-pass per-layer metrics from records and event-log counters."""
    tot = collections.Counter()
    for rec, c in zip(records, per):
        if not rec.get("ok"):
            continue
        tot["load_calls"] += rec["load_calls"]
        tot["load_s"] += rec["load_s"]
        tot["build_s"] += rec["build_s"]
        tot["exec_s"] += rec["exec_s"]
        tot["drain_s"] += rec["drain_s"]
        tot["persists"] += rec["persists"]
        tot["unaccounted_s"] += rec["latency_s"] - rec["build_s"] - c.get("job_s", 0.0)
        mod = rec["module"] if rec["module"] in MODULES else "other"
        tot[f"{mod}.build_s"] += rec["build_s"]
        tot[f"{mod}.exec_s"] += rec["exec_s"]
        tot.update(c)
    n = float(passes)
    m = {
        "catalog.load_calls": tot["load_calls"] / n,
        "catalog.load_s": tot["load_s"] / n,
        "entry.build_s": tot["build_s"] / n,
        "entry.build_jobs": tot["build.jobs"] / n,
        "entry.persists": tot["persists"] / n,
        "entry.drain_s": tot["drain_s"] / n,
        "exec.s": tot["job_s"] / n,
        "exec.wall_s": tot["exec_s"] / n,
        "exec.jobs": tot["exec.jobs"] / n,
        "exec.stages": tot["exec.stages"] / n,
        "exec.tasks": tot["exec.tasks"] / n,
        "scan.runtime_scans": tot["ran.scan"] / n,
        "scan.runtime_scans.lineitem": tot["ran.scan.lineitem"] / n,
        "scan.runtime_scans.orders": tot["ran.scan.orders"] / n,
        "scan.runtime_scans.documents": tot["ran.scan.documents"] / n,
        "scan.mb": tot["scan_b"] / MB / n,
        "shuffle.exchanges": tot["ran.shuffle"] / n,
        "shuffle.reused_exchanges": tot["reused"] / n,
        "shuffle.write_mb": tot["sw_b"] / MB / n,
        "shuffle.read_mb": tot["sr_b"] / MB / n,
        "broadcast.builds": tot["ran.broadcast"] / n,
        "broadcast.mb": tot["bcast_b"] / MB / n,
        "cache.inmemory_scans": tot["ran.inmemory"] / n,
        "cache.reuse_ratio": tot["ran.inmemory"] / tot["persists"] if tot["persists"] else 0.0,
        "spill.mb": tot["spill_b"] / MB / n,
        "task.cpu_s": tot["cpu_ns"] / 1e9 / n,
        "task.gc_s": tot["gc_ms"] / 1e3 / n,
        "aqe.replans": tot["aqe_updates"] / n,
        "python.rows_in": tot["py_rows_in"] / n,
        "python.mb_in": tot["py_in_b"] / MB / n,
        "python.eval_s": tot["py_s"] / n,
        "streaming.batches": tot["stream_batches"] / n,
        "streaming.batch_s": tot["stream_ms"] / 1e3 / n,
        "streaming.input_rows": tot["stream_rows"] / n,
        "trace.unaccounted_s": tot["unaccounted_s"] / n,
    }
    for mod in MODULES:
        for k in ("build_s", "exec_s"):
            m[f"{mod}.{k}"] = tot[f"{mod}.{k}"] / n
    m.update(head)
    return m
