#!/usr/bin/env python
"""Empirical scale rehearsal (VERDICT r8 item 5): run the heaviest
headliners at sf0.1 and at the 10x fixture from gen_scale_fixture.py
in ONE warm session each, and report per-query wall-time ratios and
log10 scaling exponents. Exponent 1.0 = linear in data volume; the
banded/blocked operators should sit near 1 (candidate pairs grow
linearly when shards are disjoint); anything >1.5 is a super-linear
surprise worth a plan read.

    python tools/gen_scale_fixture.py          # once, builds /tmp/testdata_sf1
    python tools/scale_rehearsal.py            # prints the SCALE.md table

Protocol (tools/runner.py, as bench.py): driver contract, noop sink,
warm pass per query (JIT, fixture staging), then two timed runs, min
kept. Same session confs as the engine bench so ratios isolate DATA
volume, not tuning.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The ten heaviest r8 headliners (BENCH_DETAIL.json) + the two biggest
# minhash variants — one representative per heavy family.
HEAVIES = [
    "pipeline_corpus_prep",
    "dedup_semdedup",
    "dedup_cluster_cc",
    "dedup_cluster_cc_twostar",
    "dedup_minhash_oph",
    "dedup_minhash_lsh",
    "graph_label_propagation",
    "graph_kcore",
    "pipeline_media_curation",
    "pipeline_model_eval",
    "mm_phash_pairs",
    "sim_ivfpq",
]


def evaluate_10x(floors_doc: dict, rows: list[dict]) -> dict:
    """10x floor gate (VERDICT r9 item 5): compare each rehearsed
    query's t_big against ``floors_10x``, normalized by the SAME-RUN
    host speed — the median of t_small / sf0.1-floor over rehearsed
    queries that have an sf0.1 floor (every rehearsal times both
    scales in one session, so the small-scale timings double as
    canaries; no separate canary sweep needed). A missing 10x floor
    is reported (``unfloored``) so new rehearsal queries get floors
    instead of silently bypassing the gate."""
    from statistics import median  # noqa: PLC0415

    gate = floors_doc.get("gate_10x", {}).get("max_host_adjusted_ratio", 2.0)
    # A ratio gate alone mis-fires on sub-second floors: one scheduler
    # hiccup is a 2-3x ratio on a 0.5s query but means nothing for the
    # 100 TB posture. A violation therefore needs BOTH the ratio AND a
    # material absolute excess over the host-adjusted floor.
    min_excess = floors_doc.get("gate_10x", {}).get("min_abs_excess_s", 1.0)
    sf01 = floors_doc.get("floors", {})
    tenx = floors_doc.get("floors_10x", {})
    hs_ratios = [
        r["t_small"] / sf01[r["query"]]["floor"]
        for r in rows
        if r["query"] in sf01 and sf01[r["query"]]["floor"] > 0
    ]
    hs = round(median(hs_ratios), 3) if hs_ratios else None
    out_rows, violations, unfloored = [], [], []
    if rows and hs is None:
        violations.append(
            "NO_SF01_FLOOR_MEASURED (host normalization impossible — "
            "rehearse at least one query that has an sf0.1 floor)"
        )
    for r in rows:
        info = tenx.get(r["query"])
        if info is None:
            unfloored.append(r["query"])
            continue
        raw = r["t_big"] / info["floor"]
        adj = round(raw / hs, 2) if hs else None
        verdict = "ok"
        if (
            adj is not None
            and adj > gate
            and r["t_big"] - info["floor"] * hs > min_excess
        ):
            verdict = "REGRESSION"
            violations.append(r["query"])
        out_rows.append(
            {
                "query": r["query"],
                "floor_10x": info["floor"],
                "t_big": r["t_big"],
                "raw_ratio": round(raw, 2),
                "host_adjusted": adj,
                "verdict": verdict,
            }
        )
    return {
        "host_speed": hs,
        "gate": gate,
        "rows": out_rows,
        "violations": violations,
        "unfloored": unfloored,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/tmp/testdata_sf1")
    ap.add_argument("--factor", type=float, default=10.0,
                    help="data-volume ratio big/small (for the exponent)")
    ap.add_argument("--queries", nargs="*", default=HEAVIES)
    ap.add_argument("--json", dest="json_out", default=None)
    ap.add_argument("--check", action="store_true",
                    help="gate t_big against floors.json['floors_10x'] "
                    "(>2x host-adjusted = exit 1)")
    args = ap.parse_args()

    import runner  # noqa: PLC0415

    spark = runner.engine_session("database-scan-spark-scale-rehearsal")

    rows = []
    for name in args.queries:
        t_small = runner.warm_min(spark, name, args.small)
        t_big = runner.warm_min(spark, name, args.big)
        ratio = t_big / t_small
        exponent = math.log(ratio) / math.log(args.factor)
        rows.append(
            {
                "query": name,
                "t_small": round(t_small, 2),
                "t_big": round(t_big, 2),
                "ratio": round(ratio, 2),
                "exponent": round(exponent, 2),
            }
        )
        print(
            f"{name:28s} sf0.1 {t_small:6.2f}s  {args.factor:.0f}x "
            f"{t_big:7.2f}s  ratio {ratio:5.2f}  exp {exponent:5.2f}",
            flush=True,
        )

    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump(rows, fh, indent=1)
            fh.write("\n")

    if args.check:
        with open(os.path.join(REPO, "tools", "floors.json")) as fh:
            floors_doc = json.load(fh)
        ev = evaluate_10x(floors_doc, rows)
        print(
            f"10x floor gate: host_speed={ev['host_speed']} "
            f"gate={ev['gate']}x violations={ev['violations']} "
            f"unfloored={ev['unfloored']}"
        )
        for r in ev["rows"]:
            if r["verdict"] != "ok":
                print(f"  REGRESSION {r['query']}: t_big {r['t_big']}s vs "
                      f"floor {r['floor_10x']}s (adj {r['host_adjusted']}x)")
        sys.exit(1 if ev["violations"] else 0)


if __name__ == "__main__":
    main()
