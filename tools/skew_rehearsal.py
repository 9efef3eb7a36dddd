#!/usr/bin/env python
"""Hot-key skew rehearsal (round 9).

Same data VOLUME as sf0.1, but with one dominant key in events /
lineitem / orders (gen_skew_fixture.py). For each skew-sensitive
query this script:

1. hash-checks the result against its DuckDB oracle ON THE SKEWED
   DATA (answers must not depend on key distribution), and
2. times the query warm (min-of-2, tools/runner.py as bench.py) on
   both the uniform and the skewed fixture and reports the ratio.

Equal volume means ratio ≈ 1 is the pass shape; a big ratio is a
skew cliff (a single straggler task) that AQE skew-join / salting
should have absorbed. Window functions partitioned by the hot key
are the known hard ceiling — a window partition is indivisible, so
those document the residual hazard rather than a fixable plan flaw.

    python tools/gen_skew_fixture.py            # once
    python tools/skew_rehearsal.py              # prints the SCALE.md table
"""

from __future__ import annotations

import argparse
import json

# join-heavy (skewed join keys), agg-heavy (hot groupBy key), and
# window-heavy (hot window partition) representatives.
QUERIES = [
    "join_merge_inner_same_key",      # lineitem ⋈ orders on the hot orderkey
    "tpch_q3_shipping_priority",      # customer ⋈ orders ⋈ lineitem
    "tpch_q10_returned_items",        # wide join + group on custkey
    "tpch_q13_customer_distribution", # orders custkey distribution (hot cust)
    "tpch_q18_large_orders",          # group lineitem by hot orderkey + join
    "agg_group_sums",                 # partial-agg shape on lineitem
    "win_running_sum",                # window over lineitem order partitions
    "win_lag_lead",                   # window over events user partitions
    "win_session",                    # sessionize the hot user's 40k events
    "win_ewma",                       # sequential scan inside hot partition
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--uniform", default="/root/testdata/sf0.1")
    ap.add_argument("--skew", default="/tmp/testdata_skew")
    ap.add_argument("--queries", nargs="*", default=QUERIES)
    ap.add_argument("--json", dest="json_out", default=None)
    args = ap.parse_args()

    import runner  # noqa: PLC0415

    spark = runner.engine_session("database-scan-spark-skew-rehearsal")
    osql = runner.contract()[1]
    rows = []
    for name in args.queries:
        status = "no_oracle"
        if name in osql:
            runner.check(spark, name, args.skew)
            status = "hash_green"
        t_uni = runner.warm_min(spark, name, args.uniform)
        t_skew = runner.warm_min(spark, name, args.skew)
        ratio = t_skew / t_uni
        rows.append(
            {
                "query": name,
                "oracle_on_skew": status,
                "t_uniform": round(t_uni, 2),
                "t_skew": round(t_skew, 2),
                "ratio": round(ratio, 2),
            }
        )
        print(
            f"{name:30s} {status:10s} uniform {t_uni:5.2f}s  "
            f"skew {t_skew:5.2f}s  ratio {ratio:5.2f}",
            flush=True,
        )

    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump(rows, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
