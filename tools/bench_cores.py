#!/usr/bin/env python
"""Multi-core scaling evidence at a data-dominated SF (VERDICT r10
item 3): the sf0.1 bench cannot demonstrate parallel scaling — every
8-vs-32-core ratio is < 1 because 0.3-3s queries are dominated by
fixed per-query overhead, so "fast at 100 TB" rested on plan-shape
arguments alone. This tool times a data-bound headliner subset on the
10x fixture (/tmp/testdata_sf1, tools/gen_scale_fixture.py) at two
core counts and writes a stamped table where data-bound queries can
show ratio >> 1.

Protocol per core count: FRESH process (master is fixed at session
creation), then tools/runner.py as bench.py: warm pass + two timed
runs + min, noop sink, driver-contract drain between queries. Same
shuffle-partition rule as production guidance (partitions follow
$SPARK_GRAFT_CPUS; AQE coalesces).

    python tools/bench_cores.py                 # 8 then 32 cores
    python tools/bench_cores.py --cpus 8        # one core count (child mode)

Writes tools/scale_cores_sf1.json (parent mode).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR_DEFAULT = "/tmp/testdata_sf1"
OUT = os.path.join(HERE, "scale_cores_sf1.json")

# Data-bound headliners (token/fact/pair cardinality grows 10x at sf1;
# none is dominated by per-query fixed overhead at this scale).
QUERIES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "pipeline_corpus_prep",
    "dedup_cluster_cc_twostar",
    "graph_kcore",
    "text_ccnet_perplexity",
    "text_keyword_rake",
    "graph_label_propagation",
    "tpch_q21_sole_blame_supplier",
    "sim_ivfpq",
]


def child(cpus: int, sf_dir: str) -> None:
    import runner  # noqa: PLC0415

    spark = runner.engine_session(f"bench-cores-{cpus}")
    out: dict[str, float] = {}
    for name in QUERIES:
        out[name] = round(runner.warm_min(spark, name, sf_dir), 3)
        print(f"  c{cpus} {out[name]:8.3f}s {name}", file=sys.stderr, flush=True)
    print(json.dumps(out))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--sf-dir", default=SF_DIR_DEFAULT)
    ap.add_argument("--core-counts", type=int, nargs="*", default=[8, 32])
    args = ap.parse_args(argv)
    if args.cpus is None and len(set(args.core_counts)) < 2:
        ap.error("--core-counts needs at least 2 distinct core counts")
    return args


def main() -> None:
    args = parse_args()
    if args.cpus is not None:
        child(args.cpus, args.sf_dir)
        return

    results: dict[str, dict[str, float]] = {}
    for cpus in args.core_counts:
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_DRIVER_MEM="16g",
        )
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cpus", str(cpus),
             "--sf-dir", args.sf_dir],
            env=env, capture_output=True, text=True, check=True,
        )
        results[f"c{cpus}"] = json.loads(proc.stdout.strip().splitlines()[-1])

    lo, hi = (f"c{c}" for c in sorted(args.core_counts)[:2])
    doc = {
        "fixture": args.sf_dir,
        "protocol": "fresh process per core count; warm pass + min of 2 "
        "timed runs per query; noop sink; driver-contract drain between "
        "queries; shuffle partitions = core count (AQE coalesces)",
        "per_query": {
            q: {
                lo: results[lo][q],
                hi: results[hi][q],
                "speedup_lo_over_hi": round(results[lo][q] / results[hi][q], 2),
            }
            for q in QUERIES
        },
        "totals": {k: round(sum(v.values()), 3) for k, v in results.items()},
    }
    with open(OUT, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(doc["totals"]))


if __name__ == "__main__":
    main()
