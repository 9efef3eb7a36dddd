#!/usr/bin/env python
"""Rehearse a driver CORRECTNESS window (or any registry slice, or named
queries) through the EXACT driver contract — a vanilla SparkSession,
``queries()`` / ``oracle_sql()`` from ``__spark_entry__``, DuckDB
hash-compare (tools/runner.py ``check``) — so a window entry is a
formality, not a hope.

    python tools/verify_window.py                 # SPECS[:50] at sf0.01
    python tools/verify_window.py 50 100          # SPECS[50:100]
    python tools/verify_window.py 0 470 --sf SF_DIR   # full registry
    python tools/verify_window.py 0 50 --driver-memory 6g
    python tools/verify_window.py q1 q2 [--sf DIR]   # named queries

Run it from a SCRATCH directory to also prove no cwd dependence (the
engine must work when the driver's cwd is not the repo). By default the
session is the STRICTEST driver envelope: no driver-memory bump, no
shuffle-partition conf — pass --driver-memory only when rehearsing
slices longer than a real driver window.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def select(targets: list[str], names: list[str]) -> tuple[str, list[str]]:
    """``[lo [hi]]`` slices ``names`` (default 0 50); anything else is a
    list of query names. Returns a label and the selection."""
    if len(targets) <= 2 and all(t.isdigit() for t in targets):
        lo = int(targets[0]) if targets else 0
        hi = int(targets[1]) if len(targets) > 1 else 50
        return f"window [{lo}:{hi}]", names[lo:hi]
    return f"{len(targets)} named", targets


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("targets", nargs="*",
                    help="lo hi (default 0 50), or query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--driver-memory", default=None)
    ap.add_argument("--sorted", action="store_true",
                    help="iterate name-sorted instead of window order")
    ap.add_argument("--conf", action="append", default=[],
                    help="extra session conf key=value (repeatable) — "
                    "for robustness sweeps like "
                    "spark.sql.adaptive.enabled=false or "
                    "spark.sql.shuffle.partitions=7; results must not "
                    "depend on session tuning")
    args = ap.parse_args()

    import runner  # noqa: PLC0415
    from database_scan_spark.registry import SPECS  # noqa: PLC0415

    names = [s.name for s in SPECS]
    label, window = select(args.targets, sorted(names) if args.sorted else names)
    spark = runner.vanilla_session(args.master, args.driver_memory, args.conf)
    t0 = time.time()
    fails: list[str] = []
    for name in window:
        t1 = time.time()
        try:
            rows = runner.check(spark, name, args.sf)
            print(f"  OK {name} ({rows} rows, {time.time() - t1:.1f}s)", flush=True)
        except Exception as ex:  # noqa: BLE001 - report and continue
            fails.append(name)
            print("FAIL", name, str(ex)[:400], flush=True)
    print(
        f"{label} sf={os.path.basename(args.sf)}: "
        f"{len(window) - len(fails)}/{len(window)} green in "
        f"{time.time() - t0:.0f}s; fails={fails}"
    )
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
