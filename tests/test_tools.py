"""The tools' shared query runner (tools/runner.py) and their import
surface.

- ``run_once`` restores the per-query EXTRA_CONFS even when the query
  raises and counts the generated classes a run compiles (a repeat
  finds them in the codegen cache); ``check`` reports a wrong oracle
  as a mismatch naming the query.
- Importing any tool (or bench.py) starts no Spark JVM, the tool set is
  exactly the kept one, and the two tool surfaces the benchmark imports
  still exist.
- verify_window.py takes a `lo hi` slice or query names.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")
sys.path.insert(0, TOOLS)

import runner  # noqa: E402
from bench import EXTRA_CONFS  # noqa: E402
from conftest import SF_SMOKE as SF  # noqa: E402


def test_run_once_restores_extra_confs_when_query_raises(spark, monkeypatch):
    name = "join_skew_salted"
    # one more key the session has never set: it must be unset after
    unset_key = "spark.sql.files.maxRecordsPerFile"
    assert spark.conf.get(unset_key, None) is None
    extra = {**EXTRA_CONFS[name], unset_key: "1000"}
    monkeypatch.setitem(EXTRA_CONFS, name, extra)
    before = {k: spark.conf.get(k, None) for k in extra}
    seen = {}

    def boom(spark_, sf_dir):
        seen.update({k: spark_.conf.get(k, None) for k in extra})
        raise RuntimeError("build failed")

    monkeypatch.setitem(runner.contract()[0], name, boom)
    with pytest.raises(RuntimeError, match="build failed"):
        runner.run_once(spark, name, SF)
    assert seen == extra
    assert {k: spark.conf.get(k, None) for k in extra} == before


def test_run_once_counts_codegen_compiles(spark, monkeypatch):
    name = "candidate_parts"
    # a literal no other test uses: its generated class is new to the cache
    factor = time.time_ns() % 1_000_000_007

    def fresh(spark_, sf_dir):
        return spark_.range(8).selectExpr(f"id * {factor} AS x")

    monkeypatch.setitem(runner.contract()[0], name, fresh)
    first = runner.run_once(spark, name, SF)
    build_s, exec_s = first
    assert build_s >= 0 and exec_s >= 0
    assert first.compiles >= 1
    assert runner.run_once(spark, name, SF).compiles == 0, "the repeat missed the codegen cache"


def test_check_reports_wrong_oracle_as_mismatch(spark, monkeypatch):
    name = "candidate_parts"
    assert runner.check(spark, name, SF) > 0
    monkeypatch.setitem(runner.contract()[1], name, "SELECT 1 AS part_id")
    with pytest.raises(AssertionError, match=f"^{name}: "):
        runner.check(spark, name, SF)


# Every tool a gate, a test or the benchmark uses; adding or retiring a
# tool means updating this set.
KEPT_TOOLS = {
    "audit_order_invariance",
    "gen_baseline",
    "gen_scale_fixture",
    "gen_shuffle_budget",
    "profile_breakdown",
    "runner",
    "scale_rehearsal",
    "verify_scale",
    "verify_window",
}


def test_tools_import_without_starting_spark(tmp_path):
    code = f"""
import glob, importlib, os, sys
sys.path[:0] = [{REPO!r}, {TOOLS!r}]
mods = [os.path.basename(p)[:-3] for p in glob.glob(os.path.join({TOOLS!r}, "*.py"))]
for m in sorted(mods) + ["bench"]:
    importlib.import_module(m)
from pyspark import SparkContext
assert SparkContext._gateway is None, "a tool started a Spark JVM at import"
import verify_scale
assert callable(verify_scale.materialize_ctes)
print(*sorted(mods))
"""
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, cwd=tmp_path)
    assert r.returncode == 0, r.stdout + r.stderr
    assert set(r.stdout.splitlines()[-1].split()) == KEPT_TOOLS

    # perfbench/fixture.py builds its scaled fixture through this CLI.
    r = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "gen_scale_fixture.py"), "--help"],
        capture_output=True, text=True, cwd=tmp_path,
    )
    assert r.returncode == 0, r.stderr
    for flag in ("--src", "--out", "--copies"):
        assert flag in r.stdout


def test_verify_window_takes_a_slice_or_names():
    from verify_window import select

    names = [f"q{i}" for i in range(60)]
    assert select([], names) == ("window [0:50]", names[:50])
    assert select(["50", "55"], names) == ("window [50:55]", names[50:55])
    assert select(["q3", "q1"], names) == ("2 named", ["q3", "q1"])
