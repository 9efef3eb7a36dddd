#!/usr/bin/env python3
"""Self-test of the benchmark's failure accounting.

    python3 perfbench/selftest.py

Run from the repository root; exits 0 when every check holds.

1. Every workload query is registered in ``queries()`` and has an
   oracle in ``oracle_sql()``: a rename in the registry must fail here,
   not shrink a workload.
2. One worker run on a small generated fixture with three faults
   injected: a name absent from ``queries()``, a query whose oracle is
   removed from ``oracle_sql()``, and a query whose expected digest is
   wrong. Each must be counted as a failed operation while the run
   itself completes, and the untouched query must pass.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from types import SimpleNamespace

import run
from workloads import WORKLOADS

GOOD, NO_ORACLE, WRONG = "dedup_by_id", "tpch_q3_shipping_priority", "join_multi_hop"
ABSENT = "no_such_query"


def registry_check() -> list[str]:
    sys.path.insert(0, run.ROOT)
    import __spark_entry__ as entry  # noqa: PLC0415

    names, osql = set(entry.queries()), entry.oracle_sql()
    return [
        f"{wl.name}: {q} missing from {'queries()' if q not in names else 'oracle_sql()'}"
        for wl in WORKLOADS.values()
        for q in wl.queries
        if q not in names or q not in osql
    ]


def fault_run(scratch: str) -> list[str]:
    import __spark_entry__ as entry  # noqa: PLC0415

    sf_dir = os.path.join(scratch, "fixture")
    run.fixture.generate(sf_dir, 7, 0.001)
    real = entry.oracle_sql
    entry.oracle_sql = lambda: {k: v for k, v in real().items() if k != NO_ORACLE}
    wl = SimpleNamespace(queries=(GOOD, NO_ORACLE, WRONG, ABSENT), copies=1)
    try:
        expected, missing = run.oracle_digests(wl, sf_dir)
    finally:
        entry.oracle_sql = real
    expected[WRONG] = dict(expected[WRONG], sha256="0" * 64)
    order = list(wl.queries)
    cfg = {
        "repo": run.ROOT, "sf_dir": sf_dir, "queries": order,
        "orders": [order, order], "missing": missing, "expected": expected,
    }
    res = run.run_worker(cfg, scratch, "worker", False, time.monotonic() + run.RUN_TIMEOUT_S)
    attempted, failed, errs = run.failures(res, cfg)
    problems = []
    if sorted(missing) != sorted([NO_ORACLE, ABSENT]):
        problems.append(f"missing names {missing}")
    if res["checks"].get(GOOD) is not None:
        problems.append(f"{GOOD} failed its check: {res['checks'][GOOD]}")
    if res["checks"].get(WRONG) is None:
        problems.append(f"{WRONG}: wrong expected digest not detected")
    # checks: ABSENT, NO_ORACLE, WRONG; timed records: ABSENT
    if (attempted, failed) != (8, 4):
        problems.append(f"attempted/failed {attempted}/{failed}, want 8/4: {errs}")
    return problems


def main() -> int:
    problems = registry_check()
    scratch = os.path.join(run.ROOT, ".perfbench", f"selftest-{os.getpid()}")
    os.makedirs(scratch)
    run.become_subreaper()
    try:
        problems += fault_run(scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for p in problems:
        print(f"FAIL {p}")
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
