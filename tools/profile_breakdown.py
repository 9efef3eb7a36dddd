#!/usr/bin/env python
"""Per-query layer breakdown for optimization targeting (guide §1):
split each headliner's wall-clock into

  build   — Python plan construction (queries()[name](spark, sf_dir))
  exec    — noop-sink materialization of the returned DataFrame

and record what the run executed (``runner.layers``, read from Spark's
event log): runtime scans per table, shuffles, reused exchanges,
broadcast builds and MB, build-phase and exec jobs, and generated
classes compiled (codegen cache misses).

Build time is driver-side Python + any actions the builder itself
runs (iterative fixpoints, K-sizing counts); exec time is the final
plan. Queries whose build dominates need driver-side work (fewer
actions per round, shallower lineage); queries whose exec dominates
need plan work (shuffles, joins, Python boundary).

The session is the driver's vanilla one, as in verify_window.py: a warm
pass, then one recorded run per query.

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
    names = [n for n in HEADLINE if not only or n in only]
    out: dict[str, dict] = {}
    for name, lay in runner.layers(names, sf_dir).items():
        b, e = lay.pop("build_s"), lay.pop("exec_s")
        out[name] = {"build": b, "exec": e, "total": round(b + e, 3), **lay}
        scans = " ".join(f"{t}={n}" for t, n in lay["scans"].items())
        print(
            f"{out[name]['total']:8.3f} build={b:7.3f} exec={e:7.3f} "
            f"shuffles={lay['shuffles']} reused={lay['reused']} "
            f"compiles={lay['compiles']} scans[{scans}]  {name}",
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
