"""Executed-plan ratchet: what Spark actually ran, not the static plan.

``tools/runner.py`` ``layers`` runs each pinned query once (after a warm
pass) in a vanilla session at sf0.01 and reads the executed plans from
Spark's event log through perfbench's parser: a scan, shuffle or
broadcast counts only if its metrics updated. The static ``explain``
text misses this; in r11 it was wrong about three of five targets.

A pin fails when a count grows. Reused exchanges are a floor instead:
a drop means a shared subtree stopped canonicalizing equal and is
computed twice. Lower a pin when a change shrinks a count; raise one
only with a measured reason. ``broadcast_mb`` (the hashed relations'
``data size``) is a ceiling about 5% above the measured value: it catches a
fact table on a broadcast build side, which the count alone can hide.

The run is one subprocess (its own JVM, scratch cwd and
``SPARK_GRAFT_TMP``), shared by every test here.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
TABLES = ("lineitem", "orders", "documents")
COLUMNS = (*TABLES, "shuffles", "reused", "broadcasts", "broadcast_mb", "build_jobs")

# runtime scans of each table, then shuffles, reused exchanges (a floor),
# broadcast builds, broadcast MB and build-phase jobs. Link prediction
# runs 10 shuffles in most runs and 11 in about 1 of 20: the extra one is
# the hash exchange of the edge list into its left_anti join, which a run
# executes or skips depending on when AQE re-plans that join, so its pin
# is 11.
#
# candidate_parts and q21 stopped broadcasting lineitem (SCALE.md
# "Joins"), measured in a vanilla session at sf0.01. candidate_parts:
# steps 2 and 3 each stream lineitem where they shared one reused
# lineitem broadcast, so lineitem 4 -> 5 and reused 4 -> 3; orders
# 5 -> 3; step 5's membership left_semi shuffles orders by customer,
# so shuffles 6 -> 7; broadcasts 10 -> 9 and 16.5 -> 9.3 MB. q21
# aggregates once per order: shuffles 3 -> 2, reused 1 -> 0 (its one
# lineitem scan feeds one aggregate, nothing is left to reuse),
# broadcasts 3 -> 2 and 3.2 -> 2.1 MB. dedup_cluster_cc no longer
# caches its shingle table: the spread exchange of the documents scan is
# reused instead (reused 0 -> 60); build-phase jobs 31 -> 15, shuffles
# 10 -> 6, broadcasts 7 -> 3 and 15.8 -> 7.0 MB.
PINS: dict[str, tuple[int | float, ...]] = {
    "tpch_q21_sole_blame_supplier": (1, 1, 0, 2, 0, 2, 2.2, 0),
    "candidate_parts": (5, 3, 0, 7, 3, 9, 9.8, 0),
    "dedup_cluster_cc": (0, 0, 1, 6, 60, 3, 7.4, 15),
    "graph_label_propagation": (1, 1, 0, 13, 0, 12, 12.7, 0),
    "graph_link_prediction": (1, 1, 0, 11, 0, 7, 7.5, 0),
}


@pytest.fixture(scope="module")
def executed(tmp_path_factory):
    """``runner.layers`` over every pinned query, plus the temp dir it
    ran under."""
    root = tmp_path_factory.mktemp("plan_layers")
    dirs = {k: root / k for k in ("cwd", "graft", "tmp")}
    for d in dirs.values():
        d.mkdir()
    code = (
        f"import json, sys; sys.path.insert(0, {os.path.join(REPO, 'tools')!r}); "
        f"import runner; print(json.dumps(runner.layers({sorted(PINS)!r}, {SF!r})))"
    )
    env = dict(os.environ, SPARK_GRAFT_TMP=str(dirs["graft"]), TMPDIR=str(dirs["tmp"]))
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=dirs["cwd"], env=env, timeout=600,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-4000:]
    return json.loads(r.stdout.splitlines()[-1]), dirs["tmp"]


@pytest.mark.parametrize("name", sorted(PINS))
def test_executed_plan_within_pins(executed, name):
    got = executed[0][name]
    pin = dict(zip(COLUMNS, PINS[name]))
    have = {k: got["scans"].get(k, 0) if k in TABLES else got[k] for k in COLUMNS}
    grew = {k: f"{pin[k]} -> {have[k]}" for k in COLUMNS if k != "reused" and have[k] > pin[k]}
    assert not grew, f"{name}: executed plan grew: {grew} (layers: {got})"
    assert have["reused"] >= pin["reused"], (
        f"{name}: {have['reused']} reused exchanges at runtime, pinned >= {pin['reused']}; "
        f"a shared subtree stopped canonicalizing equal (layers: {got})"
    )


def test_layers_reports_compiles(executed):
    got = {name: lay["compiles"] for name, lay in executed[0].items()}
    assert all(isinstance(n, int) and n >= 0 for n in got.values()), got


def test_layers_deletes_its_event_log(executed):
    left = [p.name for p in executed[1].iterdir() if p.name.startswith("spark-graft-eventlog-")]
    assert not left, f"runner.layers left event-log dirs behind: {left}"
