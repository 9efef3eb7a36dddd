#!/usr/bin/env python
"""Dump .explain('formatted') for named queries into plans/<round>/.

Usage: python tools/dump_plan.py before|after name [name ...]
Writes plans/<ROUND>/<name>_<tag>.txt (the optimization-round evidence
files: the judge checks plan claims in OPTIMIZATION_<round>.md against
these). Set DUMP_ROUND (default r11) to target a different round dir.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    import runner  # noqa: PLC0415

    tag = sys.argv[1]
    names = sys.argv[2:]
    assert tag in ("before", "after"), "tag must be before|after"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = runner.engine_session("database-scan-spark-dumpplan")
    outdir = os.path.join(REPO, "plans", os.environ.get("DUMP_ROUND", "r11"))
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = runner.contract()[0][name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange lines)")


if __name__ == "__main__":
    main()
