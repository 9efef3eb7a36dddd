#!/usr/bin/env python3
"""Benchmark of the database_scan_spark engine through its public surface.

    python3 perfbench/run.py --workload traversal_scaled --seed 1 --seconds 20 --trace 0

Run from the repository root. One run:

1. makes a fresh scratch root ``.perfbench/<run>/`` in the checkout
   (fixtures, ``SPARK_GRAFT_TMP`` staging, Spark local dirs, temp files,
   event log) and removes it at the end;
2. generates the workload's fixture from ``--seed`` (``fixture.py``;
   the traversal workload scales it with ``tools/gen_scale_fixture.py``)
   and checks its row counts — input generation is not timed;
3. fails loud on a workload query missing from ``queries()`` or
   ``oracle_sql()``, and computes each query's DuckDB oracle digest
   once for this fixture (``materialize_ctes`` on a scaled fixture);
4. starts ``worker.py`` as a fresh process on ``local[nproc]`` with
   ``SPARK_GRAFT_CPUS=nproc``: session, registry, a warm pass that also
   checks every output against its oracle, then a fixed number of timed
   passes, each a seeded shuffle of the workload's queries, issued one
   after another (one closed-loop client). A query is timed from its
   builder call through a noop-sink write;
5. prints a report and, last, one JSON line
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` splits the
timed passes between the same worker untraced, as a reference, and a
traced worker (Spark event log on, ``catalog.load`` wrapped, a
``StreamingQueryListener`` registered), and reports the per-layer
metrics of ``layers.py``, the tracing overhead on throughput, and per
query how build time and Spark job time account for the latency.

``perfbench/selftest.py`` checks that a missing query, a missing
oracle and a wrong result each count as a failed operation.

Without the engine next to this directory it exits with code 2 and
prints no result.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS, passes_for  # noqa: E402

# End-to-end metrics of the result line with --trace 0, each bounded in
# BENCHMARK.json. Printed beside them, unbounded: query_p50_s,
# query_tail_s and peak_rss_mb, whose run-to-run spread on a 4-core
# shared host (IQR/median up to 0.31, 0.43 and 0.24 over ten and five
# seeds) is wider than any bound the benchmark may set, and failed_ratio,
# which is 0 on a correct run and which the result line carries as
# ``failed`` / ``attempted``.
E2E_UNITS = {
    "setup_s": "s",
    "throughput_qpm": "queries/min",
}
DRIVER_MEM = "3g"
RUN_TIMEOUT_S = 170.0
PR_SET_CHILD_SUBREAPER = 36


class BenchError(RuntimeError):
    pass


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")] + sorted(
        glob.glob(os.path.join(ROOT, "database_scan_spark", "**", "*.py"), recursive=True)
    )
    for path in files:
        with open(path, "rb") as fh:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0" + fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    res = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=False
    )
    return res.stdout.strip() or None


def make_fixture(wl, seed: int, scratch: str) -> tuple[str, dict]:
    base = os.path.join(scratch, "fixture", f"sf{wl.sf}")
    rows = fixture.generate(base, seed, wl.sf)
    if wl.copies <= 1:
        return base, fixture.table_stats(base)
    scaled = os.path.join(scratch, "fixture", f"sf{wl.sf}x{wl.copies}")
    fixture.scale_up(ROOT, base, scaled, wl.copies)
    stats = fixture.table_stats(scaled)
    for t, n in rows.items():
        want = n if t in ("region", "nation") else n * wl.copies
        if stats[t]["rows"] != want:
            raise BenchError(f"scaled fixture {t}: {stats[t]['rows']} rows, want {want}")
    return scaled, stats


def oracle_digests(wl, sf_dir: str) -> tuple[dict, list[str]]:
    """Expected digests, plus the workload names the registry lacks."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import __spark_entry__ as entry  # noqa: PLC0415
    from check import digest  # noqa: PLC0415
    from database_scan_spark.testing import run_oracle  # noqa: PLC0415
    from verify_scale import materialize_ctes  # noqa: PLC0415

    names, osql = set(entry.queries()), entry.oracle_sql()
    missing = [n for n in wl.queries if n not in names or n not in osql]
    expected = {}
    for n in wl.queries:
        if n in osql:
            sql = materialize_ctes(osql[n]) if wl.copies > 1 else osql[n]
            expected[n] = digest(run_oracle(sql, sf_dir))
    return expected, missing


def become_subreaper() -> None:
    """Orphans of this process's descendants get re-parented here."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def remove_leftovers(scratch_root: str) -> None:
    """Remove the scratch dirs of killed runs: those whose owner pid (the
    name's last ``-`` field) no longer exists."""
    if not os.path.isdir(scratch_root):
        return
    for name in os.listdir(scratch_root):
        try:
            os.kill(int(name.rsplit("-", 1)[-1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(scratch_root, name), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by another user


def reap_all(pgid: int) -> None:
    """Kill what is left of a worker's process group and wait for it.

    The parent is a child subreaper, so the worker's JVM and Python
    daemons are re-parented here when the worker exits."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)


def run_worker(cfg: dict, scratch: str, tag: str, trace: bool, deadline: float) -> dict:
    run_dir = os.path.join(scratch, tag)
    dirs = {k: os.path.join(run_dir, k) for k in ("cwd", "graft_tmp", "spark_local", "tmp", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    # hsperfdata would land in /tmp whatever java.io.tmpdir says
    submit = [f"--driver-java-options '-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData'"]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_TMP=dirs["graft_tmp"],
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=dirs["spark_local"],
        TMPDIR=dirs["tmp"],
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        PYTHONDONTWRITEBYTECODE="1",
    )
    for k in ("SPARK_MASTER", "SPARK_GRAFT_SF_DIR"):
        env.pop(k, None)
    cfg = dict(cfg, trace=trace, out=os.path.join(run_dir, "result.json"))
    cfg_path = os.path.join(run_dir, "config.json")
    out_log = os.path.join(run_dir, "worker.log")
    cfg["spawn_ts"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    with open(out_log, "wb") as logf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=dirs["cwd"], env=env, stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            reap_all(proc.pid)
    if rc != 0:
        with open(out_log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"worker {tag} {'timed out' if rc is None else f'exit {rc}'}:\n{tail}")
    with open(cfg["out"]) as fh:
        res = json.load(fh)
    if trace:
        res["event_log"] = glob.glob(os.path.join(dirs["eventlog"], "*"))[0]
    return res


def _bytes(conf: str) -> float:
    """A Spark byte-size conf ("67108864", "10MB", "64m") in bytes."""
    s = conf.strip().lower().removesuffix("b")
    mult = {"k": 2**10, "m": 2**20, "g": 2**30}.get(s[-1:], 1)
    return float(s[:-1] if mult > 1 else s) * mult


def end_to_end(res: dict) -> dict:
    by_query: dict[str, list[float]] = {}
    for r in res["records"]:
        if r["ok"]:
            by_query.setdefault(r["name"], []).append(r["latency_s"])
    lat = sorted(x for v in by_query.values() for x in v)
    # highest percentile with ten samples beyond it; below 11 samples, the max
    k = len(lat) - 11 if len(lat) >= 11 else len(lat) - 1
    nan = float("nan")
    return {
        "setup_s": res["setup_s"],
        "throughput_qpm": len(lat) / res["timed_s"] * 60.0,
        # median over the workload's queries of each query's median latency:
        # a median pooled over all samples sits where the latency clusters
        # of two neighbouring queries meet and jumps between them
        "query_p50_s": statistics.median(statistics.median(v) for v in by_query.values())
        if lat else nan,
        "query_tail_s": lat[k] if lat else nan,
        "tail_pct": 100.0 * (k + 1) / len(lat) if lat else nan,
        "samples": len(lat),
        "peak_rss_mb": res["peak_rss_mb"],
        "by_query": by_query,
    }


def failures(res: dict, cfg: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages): timed executions plus output checks."""
    errs = [r["error"] for r in res["records"] if not r["ok"]]
    for name in cfg["queries"]:
        if name in cfg["missing"]:
            errs.append(f"{name}: missing from queries() or oracle_sql()")
        elif res["checks"].get(name, f"{name}: not checked") is not None:
            errs.append(res["checks"].get(name, f"{name}: not checked"))
    attempted = len(res["records"]) + len(cfg["queries"])
    return attempted, len(errs), errs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "database_scan_spark"))
        and os.path.isfile(os.path.join(ROOT, "tools", "gen_scale_fixture.py"))
    ):
        log(f"perfbench: no database_scan_spark checkout at {ROOT}")
        return 2
    deadline = time.monotonic() + RUN_TIMEOUT_S
    wl = WORKLOADS[args.workload]
    scratch_root = os.path.join(ROOT, ".perfbench")
    remove_leftovers(scratch_root)
    scratch = os.path.join(scratch_root, f"{wl.name}-s{args.seed}-{os.getpid()}")
    os.makedirs(scratch)
    become_subreaper()
    # a TERM unwinds through run_worker's ``finally``, which reaps the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        t = time.perf_counter()
        sf_dir, stats = make_fixture(wl, args.seed, scratch)
        expected, missing = oracle_digests(wl, sf_dir)
        log(f"perfbench: fixture + oracles {time.perf_counter() - t:.1f}s")
        passes = passes_for(wl, args.seconds)
        rng = random.Random(args.seed)
        orders = [rng.sample(wl.queries, len(wl.queries)) for _ in range(passes + 1)]
        cfg = {
            "repo": ROOT, "sf_dir": sf_dir, "queries": list(wl.queries),
            "orders": orders, "missing": missing, "expected": expected,
        }
        ref_cfg = cfg
        if args.trace:  # the timed passes split between an untraced and a traced worker
            half = max(1, passes // 2)
            ref_cfg = dict(cfg, orders=orders[: 1 + half])
            cfg = dict(cfg, orders=[orders[0]] + (orders[1 + half:] or orders[1:2]))
        res = run_worker(ref_cfg, scratch, "untraced", False, deadline)
        e2e = end_to_end(res)
        attempted, failed, errs = failures(res, ref_cfg)
        threshold = _bytes(res["broadcast_threshold"])
        stamp = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "passes": len(ref_cfg["orders"]) - 1, "nproc": nproc(),
            "driver_memory": DRIVER_MEM, "pyspark": _version("pyspark"),
            "duckdb": _version("duckdb"), "git_commit": git_commit(),
            "source_sha256": source_digest(), "copies": wl.copies, "sf": wl.sf,
            "fixture": stats,
            "exceeds_broadcast_threshold": {
                t: stats[t]["mb"] * 2**20 > threshold for t in ("lineitem", "orders")
            },
        }
        print("stamp: " + json.dumps(stamp, sort_keys=True))
        for e in errs:
            print(f"FAILED {e}")
        for name, lat in sorted(e2e["by_query"].items()):
            print(f"latency {name:32s} " + " ".join(f"{x:.3f}" for x in lat))
        for k, unit in E2E_UNITS.items():
            print(f"{k:16s} {e2e[k]:12.4f} {unit}")
        print(f"query_p50_s      {e2e['query_p50_s']:12.4f} s (not bounded)")
        print(
            f"query_tail_s     {e2e['query_tail_s']:12.4f} s (p{e2e['tail_pct']:.1f} of "
            f"{e2e['samples']} samples; not bounded)"
        )
        print(f"peak_rss_mb      {e2e['peak_rss_mb']:12.1f} MB (not bounded)")
        print(f"failed_ratio     {failed / attempted:12.4f} ratio ({failed}/{attempted})")
        if not all(stamp["exceeds_broadcast_threshold"].values()):
            print(f"note: fact tables under the {threshold / 2**20:.0f} MB broadcast threshold")
        if args.trace:
            tres = run_worker(cfg, scratch, "traced", True, deadline)
            t_e2e = end_to_end(tres)
            t_att, t_failed, t_errs = failures(tres, cfg)
            attempted, failed = attempted + t_att, failed + t_failed
            for e in t_errs:
                print(f"FAILED (traced) {e}")
            per = layers.per_query(tres["records"], tres["event_log"], tres["stream_progress"])
            head = dict(tres["layers"])
            head["trace.throughput_qpm"] = t_e2e["throughput_qpm"]
            head["trace.overhead_ratio"] = 1.0 - t_e2e["throughput_qpm"] / e2e["throughput_qpm"]
            head["jvm.peak_rss_mb"] = tres["peak_rss_mb"]
            metrics = layers.summarize(tres["records"], per, len(cfg["orders"]) - 1, head)
            print(
                f"tracing overhead: throughput {e2e['throughput_qpm']:.2f} untraced vs "
                f"{t_e2e['throughput_qpm']:.2f} traced queries/min "
                f"({100 * head['trace.overhead_ratio']:.1f}%)"
            )
            _print_reconcile(tres["records"], per)
            out = {k: {"value": metrics[k], "unit": u} for k, u in layers.LAYER_METRICS}
        else:
            out = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out,
        }))
        return 0
    except BenchError as exc:
        log(f"perfbench: {exc}")
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:
            pass  # another run's scratch is still there


def _version(mod: str) -> str:
    from importlib.metadata import version  # noqa: PLC0415

    return version(mod)


def _print_reconcile(records: list[dict], per: list[dict]) -> None:
    """Per query: the traced latency against entry.build_s (builder call)
    plus exec.s (time the action's Spark jobs ran, from the event log).
    The gap is driver-side time no job covers: planning, AQE re-planning,
    job scheduling. More than a quarter of the latency is flagged."""
    for r, c in zip(records, per):
        if r["ok"]:
            job_s = c.get("job_s", 0.0)
            gap = r["latency_s"] - r["build_s"] - job_s
            flag = "  UNACCOUNTED" if gap > 0.25 * r["latency_s"] else ""
            print(
                f"reconcile {r['name']:32s} latency {r['latency_s']:.3f}s = build "
                f"{r['build_s']:.3f}s + exec {job_s:.3f}s + gap {gap:.3f}s{flag}"
            )


if __name__ == "__main__":
    sys.exit(main())
