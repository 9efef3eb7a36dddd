#!/usr/bin/env python
"""Per-query time breakdown for optimization targeting (guide §1):
split each headliner's wall-clock into

  build   — Python plan construction (queries()[name](spark, sf_dir))
  exec    — noop-sink materialization of the returned DataFrame

Build time is driver-side Python + any actions the builder itself
runs (iterative fixpoints, K-sizing counts); exec time is the final
plan. Queries whose build dominates need driver-side work (fewer
actions per round, shallower lineage); queries whose exec dominates
need plan work (shuffles, joins, Python boundary).

Usage: python tools/profile_breakdown.py [name ...]   # default: all
Writes tools/profile_breakdown.json.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    import runner  # noqa: PLC0415
    from bench import HEADLINE  # noqa: PLC0415

    only = set(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = runner.engine_session("database-scan-spark-profile")
    names = [
        n for n in HEADLINE
        if n in runner.contract()[0] and (not only or n in only)
    ]
    runner.warm(spark, names, sf_dir)  # same protocol as bench.py
    out: dict[str, dict[str, float]] = {}
    for name in names:
        runs = runner.timed(spark, name, sf_dir)
        out[name] = {
            "build": round(min(b for b, _ in runs), 3),
            "exec": round(min(e for _, e in runs), 3),
            "total": round(min(b + e for b, e in runs), 3),
        }
        print(
            f"{out[name]['total']:8.3f} build={out[name]['build']:7.3f} "
            f"exec={out[name]['exec']:7.3f}  {name}",
            flush=True,
        )
    with open(os.path.join(HERE, "profile_breakdown.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    tot = sum(v["total"] for v in out.values())
    b = sum(v["build"] for v in out.values())
    print(f"TOTAL {tot:.1f}s  build {b:.1f}s  exec {tot - b:.1f}s")


if __name__ == "__main__":
    main()
