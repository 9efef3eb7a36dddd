"""Unit tests for the canonical floor gate (tools/gen_baseline.py) —
the gate that turns BASELINE.md's >2x rule mechanical must itself be
tested, or a silent-pass bug there hides real regressions."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)

import gen_baseline  # noqa: E402


def _doc():
    with open(gen_baseline.FLOORS_PATH) as fh:
        return json.load(fh)


def test_floors_cover_every_benched_headliner():
    """Every query bench.py times must be registered, listed once and
    have a floor (else the gate reports it unfloored and --check
    fails)."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench
    from __spark_entry__ import queries

    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate headliners"
    unregistered = sorted(set(bench.HEADLINE) - set(queries()))
    assert not unregistered, f"headliners not in queries(): {unregistered}"
    doc = _doc()
    missing = [q for q in bench.HEADLINE if q not in doc["floors"]]
    # join_skew_unsalted is the untimed pathology control — floored but
    # deliberately not in HEADLINE; nothing in HEADLINE may be floorless.
    assert not missing, f"headliners without a floor: {missing}"


def test_gate_flags_real_regression_and_passes_floor_level():
    doc = _doc()
    canaries = dict(doc["canaries"])
    # a measured set exactly at floor: host_speed 1.0, no violations
    measured = dict(canaries)
    measured["graph_kcore"] = doc["floors"]["graph_kcore"]["floor"]
    ev = gen_baseline.evaluate(doc, measured)
    assert ev["host_speed"] == 1.0
    assert ev["violations"] == [] and ev["unfloored"] == []
    # same set with one query at 3x its floor: exactly that one flags
    measured["graph_kcore"] = doc["floors"]["graph_kcore"]["floor"] * 3
    ev2 = gen_baseline.evaluate(doc, measured)
    assert ev2["violations"] == ["graph_kcore"]


def test_gate_normalizes_by_host_speed():
    """On a uniformly 1.9x-slower host nothing flags (the canaries move
    with the load), but a query 1.9x slow on a floor-speed host does."""
    doc = _doc()
    slow = {q: f * 1.9 for q, f in doc["canaries"].items()}
    slow["graph_kcore"] = doc["floors"]["graph_kcore"]["floor"] * 1.9
    ev = gen_baseline.evaluate(doc, slow)
    assert ev["violations"] == []
    fast_host = dict(doc["canaries"])
    fast_host["graph_kcore"] = doc["floors"]["graph_kcore"]["floor"] * 2.5
    ev2 = gen_baseline.evaluate(doc, fast_host)
    assert ev2["violations"] == ["graph_kcore"]


def test_gate_flags_insane_host_speed():
    """ADVICE r6: a uniform slowdown that hits the canaries themselves
    is normalized away by host_speed — above the sanity bound it must
    surface as a violation instead of silently absorbing a repo-wide
    shared-code-path regression."""
    doc = _doc()
    crawl = {q: f * 2.5 for q, f in doc["canaries"].items()}
    ev = gen_baseline.evaluate(doc, crawl)
    assert any("HOST_SPEED_INSANE" in v for v in ev["violations"])
    # ...while a merely-slow host (inside the bound) still passes.
    slow = {q: f * 1.9 for q, f in doc["canaries"].items()}
    assert gen_baseline.evaluate(doc, slow)["violations"] == []


def test_gate_fails_loud_without_canaries():
    doc = _doc()
    ev = gen_baseline.evaluate(doc, {"graph_kcore": 1.0})
    assert any("NO_CANARY" in v for v in ev["violations"])


def test_gate_reports_unfloored_queries():
    doc = _doc()
    measured = dict(doc["canaries"])
    measured["some_future_query"] = 1.0
    ev = gen_baseline.evaluate(doc, measured)
    assert ev["unfloored"] == ["some_future_query"]


def test_load_rejects_non_anchor_sf(tmp_path, monkeypatch):
    """A BENCH_DETAIL.json produced at sf!=0.1 must not be compared
    against sf0.1-anchored floors."""
    detail = {"sf": 0.01, "queries": {"graph_kcore": 1.0}}
    p = tmp_path / "BENCH_DETAIL.json"
    p.write_text(json.dumps(detail))
    monkeypatch.setattr(gen_baseline, "DETAIL_PATH", str(p))
    _, measured = gen_baseline.load()
    assert measured == {}
    detail["sf"] = 0.1
    p.write_text(json.dumps(detail))
    _, measured2 = gen_baseline.load()
    assert measured2 == {"graph_kcore": 1.0}


def test_10x_gate_normalizes_by_same_run_host_speed():
    """scale_rehearsal.evaluate_10x (VERDICT r9 item 5): the 10x floor
    gate flags a genuine scale cliff but absorbs uniform host slowness
    via the same-run sf0.1 canary median."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from scale_rehearsal import evaluate_10x

    floors_doc = {
        "gate_10x": {"max_host_adjusted_ratio": 2.0},
        "floors": {
            "a": {"floor": 1.0, "resets": []},
            "b": {"floor": 2.0, "resets": []},
            "c": {"floor": 1.0, "resets": []},
        },
        "floors_10x": {
            "a": {"floor": 2.0, "resets": []},
            "b": {"floor": 4.0, "resets": []},
            "c": {"floor": 2.0, "resets": []},
        },
    }
    # Host runs 1.5x slow uniformly (t_small = 1.5x floor); "a" and "b"
    # scale like their floors (t_big = 1.5x floor_10x → adjusted 1.0),
    # "c" hits a 5x cliff at 10x only.
    rows = [
        {"query": "a", "t_small": 1.5, "t_big": 3.0},
        {"query": "b", "t_small": 3.0, "t_big": 6.0},
        {"query": "c", "t_small": 1.5, "t_big": 15.0},
        {"query": "new_query", "t_small": 1.0, "t_big": 1.0},
    ]
    ev = evaluate_10x(floors_doc, rows)
    assert ev["host_speed"] == 1.5
    assert ev["violations"] == ["c"]
    # sub-second jitter is absorbed by the absolute-excess guard: 3x
    # ratio but only 0.55s over the adjusted floor -> not a violation
    floors_doc["floors_10x"]["d"] = {"floor": 0.2, "resets": []}
    jitter = rows + [{"query": "d", "t_small": 0.3, "t_big": 0.85}]
    assert evaluate_10x(floors_doc, jitter)["violations"] == ["c"]
    assert ev["unfloored"] == ["new_query"]
    by = {r["query"]: r for r in ev["rows"]}
    assert by["a"]["verdict"] == "ok" and by["a"]["host_adjusted"] == 1.0
    assert by["c"]["verdict"] == "REGRESSION"

    # No sf0.1 floor among rehearsed queries → loud, not silently green.
    ev2 = evaluate_10x(
        {"floors": {}, "floors_10x": {}, "gate_10x": {"max_host_adjusted_ratio": 2.0}},
        [{"query": "x", "t_small": 1.0, "t_big": 1.0}],
    )
    assert any("NO_SF01_FLOOR" in v for v in ev2["violations"])


def test_10x_floor_table_covers_every_rehearsed_query():
    """Every query that has appeared in a rehearsal JSON must have a
    10x floor — otherwise the gate silently skips it (the exact gap
    the r9 mm_phash_pairs cliff hid in)."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "tools", "floors.json")) as fh:
        tenx = json.load(fh).get("floors_10x", {})
    rehearsed = set()
    for p in glob.glob(os.path.join(repo, "tools", "scale_rehearsal_r*.json")):
        rehearsed |= {r["query"] for r in json.load(open(p))}
    missing = sorted(rehearsed - set(tenx))
    assert not missing, f"rehearsed queries without a 10x floor: {missing}"
