#!/usr/bin/env python
"""Input-order-invariance audit (r8 audit class).

The driver's DuckDB oracle cannot catch ORDER-DEPENDENT results: both
engines scan the SAME parquet files in the SAME physical row order, so
a query whose answer depends on input order (a limit without a total
order, a first()/head without a sort, a positional tie-break) produces
the same wrong-at-scale answer in both and hash-matches anyway. On a
1000-executor cluster reading 100 TB, input order is nondeterministic
— splits arrive in any order — so order-dependence IS a latent scale
bug even when every oracle is green.

This audit makes the invariance mechanical:

  1. Stage a row-shuffled copy of every fixture table (deterministic:
     ORDER BY md5(primary key), written via DuckDB so Spark never sees
     the original order) under /tmp.
  2. Run EVERY registry query on the original dir and on the shuffled
     dir in the same vanilla session.
  3. Compare the driver-contract canonical form (sorted columns,
     sorted stringified rows — testing.canonicalize). Any difference
     = order-dependent result, listed loud.

Exemptions (positional BY SPEC, each with the reason it is exempt and
why that is safe at scale) live in _EXEMPT below. Keep it short; an
entry here is a documented semantic, not a pass.

    python tools/audit_order_invariance.py                # sf0.001
    python tools/audit_order_invariance.py --sf /root/testdata/sf0.01
    python tools/audit_order_invariance.py --lo 0 --hi 464 --chunk 100
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys
import time

# Primary keys used as the deterministic shuffle key (md5 of the key
# string reorders rows uniformly regardless of the original order).
_PK: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

# name -> reason it is ALLOWED to depend on input order. Empty today:
# every spec, including the reference's first-hit/pagination shapes,
# defines its result by VALUES (keys, scores, timestamps), not file
# position. A new entry needs the same justification bar as a floor
# reset in tools/floors.json.
_EXEMPT: dict[str, str] = {}


def stage_shuffled(sf_dir: str, out_dir: str) -> str:
    """Write md5(pk)-reordered copies of every fixture table. Keyed by
    source dir so sf0.001/sf0.01 stage side by side; marker-guarded."""
    import duckdb  # noqa: PLC0415

    marker = os.path.join(out_dir, "_SHUFFLE_OK")
    if os.path.exists(marker):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for table, pk in _PK.items():
        src = os.path.join(sf_dir, f"{table}.parquet")
        dst = os.path.join(out_dir, f"{table}.parquet")
        key = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in pk)
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}') "
            f"ORDER BY md5({key})) TO '{dst}' (FORMAT PARQUET)"
        )
    con.close()
    with open(marker, "w") as fh:
        fh.write("ok")
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--lo", type=int, default=0)
    ap.add_argument("--hi", type=int, default=10_000)
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--driver-memory", default=None)
    args = ap.parse_args()

    import runner  # noqa: PLC0415
    from database_scan_spark.testing import canonicalize  # noqa: PLC0415

    spark = runner.vanilla_session(args.master, args.driver_memory)
    tag = hashlib.sha256(os.path.abspath(args.sf).encode()).hexdigest()[:12]
    shuffled = stage_shuffled(
        args.sf, os.path.join("/tmp", f"order_shuffled_{tag}")
    )

    names = sorted(runner.contract()[0])[args.lo : args.hi]
    t0 = time.time()
    diffs: list[str] = []
    errs: list[tuple[str, str]] = []
    for i, name in enumerate(names, 1):
        if name in _EXEMPT:
            print(f"[{i}/{len(names)}] {name}: EXEMPT ({_EXEMPT[name]})")
            continue
        try:
            base = canonicalize(runner.result(spark, name, args.sf))
            shuf = canonicalize(runner.result(spark, name, shuffled))
        except Exception as exc:  # noqa: BLE001 - audit must finish
            errs.append((name, str(exc).splitlines()[0][:160]))
            continue
        if base != shuf:
            ndiff = sum(1 for a, b2 in zip(base[1], shuf[1]) if a != b2)
            diffs.append(name)
            print(
                f"[{i}/{len(names)}] {name}: ORDER-DEPENDENT "
                f"({ndiff} differing canonical rows, "
                f"{len(base[1])} vs {len(shuf[1])} total)"
            )
    status = "OK" if not diffs and not errs else "FAIL"
    print(
        f"order-invariance [{args.lo}:{args.lo + len(names)}] "
        f"sf={os.path.basename(args.sf)}: {len(names) - len(diffs) - len(errs)}"
        f"/{len(names)} invariant in {time.time() - t0:.0f}s; "
        f"order_dependent={diffs}; errors={errs} -> {status}"
    )
    sys.exit(1 if diffs or errs else 0)


if __name__ == "__main__":
    main()
