#!/usr/bin/env python
"""Differential-oracle verification at the 10x fixture (round 9).

The sf0.01/sf0.1 sweeps prove correctness; the scale rehearsal proves
runtime scaling. This closes the remaining gap — CORRECTNESS at 10x —
by hash-comparing the heavy-family queries against their DuckDB
oracles on /tmp/testdata_sf1.

DuckDB caveat at this scale: non-MATERIALIZED CTEs referenced more
than once are inlined PER REFERENCE (the exponential re-evaluation
documented in the verify recipe — fine at sf0.01, tens of GB at 10x).
The engine's oracles are written for the driver's sf0.01 gate, so
``materialize_ctes`` below rewrites `name AS (` to
`name AS MATERIALIZED (` for top-level CTEs — an execution hint only,
result values unchanged (WINDOW clauses are not touched: the pattern
requires the CTE name to start its line). tools/runner.py ``check``
applies it to every oracle it runs, at every scale.

    python tools/gen_scale_fixture.py       # once
    python tools/verify_scale.py            # heavy families, cheap first
"""

from __future__ import annotations

import argparse
import re
import time

# cheap-oracle first so a slow tail never hides early signal
QUERIES = [
    "win_running_sum_sharded",
    "graph_kcore",
    "graph_label_propagation",
    "pipeline_model_eval",
    "sim_ivfpq",
    "mm_phash_pairs",
    "pipeline_media_curation",
    "dedup_cluster_cc",
    "dedup_cluster_cc_twostar",
    "dedup_minhash_lsh",
    "dedup_minhash_oph",
    "dedup_semdedup",
    "pipeline_corpus_prep",
]

# A CTE definition starts its line; a continuation window definition in
# a multi-line WINDOW clause can too (`WINDOW w1 AS (...),\n w2 AS (...)`),
# so the body lookahead excludes anything that opens like a window spec
# (PARTITION BY / ORDER BY / frame keywords / empty / a bare window name
# followed by `)`) — rewriting one would be a DuckDB syntax error
# (ADVICE r9).
_CTE_DEF = re.compile(
    r"(?m)^(\s*)(WITH\s+|WITH\s+RECURSIVE\s+)?(\w+) AS \("
    r"(?!\s*(?:PARTITION\s+BY|ORDER\s+BY|ROWS\s|RANGE\s|GROUPS\s|\)|\w+\s*\)))"
)


def materialize_ctes(sql: str) -> str:
    return _CTE_DEF.sub(
        lambda m: f"{m.group(1)}{m.group(2) or ''}{m.group(3)} AS MATERIALIZED (",
        sql,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/testdata_sf1")
    ap.add_argument("--queries", nargs="*", default=QUERIES)
    ap.add_argument("--driver-memory", default="16g")
    args = ap.parse_args()

    import runner  # noqa: PLC0415

    spark = runner.vanilla_session("local[16]", args.driver_memory)
    fails: list[str] = []
    for name in args.queries:
        t0 = time.time()
        try:
            runner.check(spark, name, args.sf)
            print(f"{name}: hash-green at 10x ({time.time() - t0:.0f}s)", flush=True)
        except Exception as ex:  # noqa: BLE001 - report and continue
            fails.append(name)
            print(f"{name}: FAIL {str(ex)[:200]}", flush=True)
    n = len(args.queries)
    print(f"10x differential: {n - len(fails)}/{n} green; fails={fails}")
    spark.stop()


if __name__ == "__main__":
    main()
