"""Generated-code reuse across repeated queries in an engine session.

Spark keeps the classes it generates (whole-stage code, projections,
orderings) in an LRU keyed by source code. ``session.get_spark`` sizes
it above the engine's working set, so a repeated pass of the
``traversal_scaled`` benchmark queries finds its classes cached instead
of compiling them again. With Spark's default of 100 entries every pass
compiles about the same count (132 classes a pass against a 100-entry
LRU: each class is evicted before its reuse).

The third pass is held to at most 10% of the first pass's compiles, not
to zero: a few queries recompile on a repeat run even with a large
cache (SCALE.md "Generated-code cache").

The run is one subprocess with its own JVM, since the cache size is a
static conf fixed when the session starts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
PASSES = 3


def test_repeated_passes_reuse_generated_classes(tmp_path):
    dirs = {k: tmp_path / k for k in ("cwd", "graft", "tmp")}
    for d in dirs.values():
        d.mkdir()
    code = f"""
import json, sys
sys.path[:0] = [{REPO!r}, {os.path.join(REPO, "tools")!r}, {os.path.join(REPO, "perfbench")!r}]
import runner
from database_scan_spark.session import CODEGEN_CACHE_ENTRIES
from workloads import WORKLOADS

spark = runner.engine_session("codegen-cache-test")
conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
names = WORKLOADS["traversal_scaled"].queries
passes = [[runner.run_once(spark, n, {SF!r}).compiles for n in names] for _ in range({PASSES})]
spark.stop()
print(json.dumps({{"conf": conf, "want": CODEGEN_CACHE_ENTRIES, "names": names, "passes": passes}}))
"""
    env = dict(
        os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_TMP=str(dirs["graft"]),
        TMPDIR=str(dirs["tmp"]),
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=dirs["cwd"], env=env, timeout=600,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-4000:]
    got = json.loads(r.stdout.splitlines()[-1])
    assert got["conf"] == str(got["want"])
    per_pass = [sum(p) for p in got["passes"]]
    by_query = dict(zip(got["names"], zip(*got["passes"])))
    assert per_pass[0] > 0, f"the first pass compiled nothing: {by_query}"
    assert per_pass[-1] <= 0.1 * per_pass[0], (
        f"pass {PASSES} compiled {per_pass[-1]} classes against {per_pass[0]} in pass 1; "
        f"compiles per pass {per_pass}, per query {by_query}"
    )
