"""Shared helpers for operator implementations."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TMP_ROOT = os.environ.get("SPARK_GRAFT_TMP", "/tmp/spark_graft")


def workdir(sf_dir: str, name: str) -> str:
    """Deterministic scratch dir per (scale factor, operator)."""
    d = os.path.join(TMP_ROOT, os.path.basename(os.path.normpath(sf_dir)), name)
    os.makedirs(d, exist_ok=True)
    return d


def money(col: str | Column) -> Column:
    """Exact-arithmetic money column. DECIMAL sums are associative, so
    Spark's unordered partial aggregation stays deterministic and
    hash-matches the oracle (SURVEY.md §7.3 trap #2)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact."""
    return money("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")


# The same expression for DuckDB oracles.
SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))"
)


def lineitems_of(customers: DataFrame, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """The 2-hop edge scan customer→orders→lineitem: the lineitems (with
    their order's columns) of ``customers``, a frame with a
    ``c_custkey`` column. Customer membership is a ``left_semi``, whose
    size estimate is the orders side's; an inner join's is the product
    of both inputs, which would make the projected lineitem scan look
    like the smaller side and broadcast the fact table (SCALE.md
    "Joins"). So the customers' orders build and lineitem streams.
    Equal to the inner join chain while ``c_custkey`` is unique in
    ``customers``."""
    seg_orders = orders.join(customers, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    return lineitem.join(seg_orders, F.col("l_orderkey") == F.col("o_orderkey"))


def h32(col):
    """Deterministic 32-bit string hash identical in Spark and DuckDB:
    first 8 hex chars of md5, parsed as an integer. DuckDB twin:
    ``('0x' || substring(md5(x), 1, 8))::BIGINT``. The single source
    of truth for every cross-engine hash in the package."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def dot(a, b):
    """Double-precision sequential dot product as a pure JVM array
    expression (zip_with + aggregate) — bit-identical to DuckDB's
    list_dot_product over DOUBLE[] because both fold left-to-right.
    The single source of truth for every cross-engine dot product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def spread(df):
    """Fan a small-file scan out to all cores before CPU-heavy narrow
    maps (hashing, dot products, Python batches). A few-MB parquet
    file arrives as ONE partition under maxPartitionBytes, which
    serializes per-row-expensive work; a round-robin shuffle unlocks
    full parallelism. The shuffle moves every row at any scale, and
    AQE does not coalesce a repartition with an explicit partition
    count, so where inputs already arrive in many splits (cluster
    scale) it is pure cost (SCALE.md "Open items")."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def global_order(
    df,
    key: Column,
    tiebreakers: tuple[Column, ...] = (),
    n_buckets: int = 64,
    rank_col: str | None = None,
    cum_sums: dict[str, Column] | None = None,
):
    """Exact global row_number / inclusive cumulative sums over the
    total order ``(key ASC, *tiebreakers ASC)`` WITHOUT a single-task
    global window — the 100 TB replacement for
    ``Window.orderBy(...)`` on unbounded-cardinality input.

    Mechanics (pure DataFrame, one data shuffle):
      1. range-bucket every row by a MONOTONE double image of the key
         against ``percentile_approx`` boundaries (broadcast). The
         boundaries only need monotonicity, never precision: for any
         monotone bucketing, rank = bucket-offset + local rank is
         exact, so sketch error or merge-order drift in the
         boundaries cannot change the output, only the balance.
      2. per-bucket window (hash shuffle on bucket id — each task
         holds ~1/n_buckets of the rows) computes local row_number
         and local cumulative sums over the EXACT key order (the
         double image is used for bucketing only, so keys that
         collide in double space still sort exactly).
      3. bucket totals (tiny, map-side combined) turn into exclusive
         prefix offsets via a window over <= n_buckets rows, then a
         broadcast join adds offset + local.

    The key must be non-null and non-NaN (fails loudly otherwise —
    the package's fail-loud discipline; a NaN key would silently
    corrupt ranks because NaN sorts LAST in Spark's total order but
    compares false against every percentile boundary, landing in
    bucket 0 — the one spot where the bucketing and the sort could
    disagree) and numerically orderable; ±Infinity is fine (orderable
    and monotone under the double image). Pass ``-col`` for DESC.
    Ties across the full (key, tiebreakers) tuple would be
    nondeterministic in ANY engine — callers supply a total order,
    same as they had to with Window.orderBy.
    """
    from pyspark.sql import Window  # noqa: PLC0415 - avoid module cycle

    cum_sums = dict(cum_sums or {})
    guarded = F.when(
        key.isNotNull() & ~F.isnan(key.cast("double")), key
    ).otherwise(
        F.raise_error(F.lit("global_order: sort key must be non-null and non-NaN"))
    )
    df = df.withColumn("_go_k", guarded)
    if n_buckets < 2:  # degenerate: one bucket == the plain window
        df = df.withColumn("_go_pid", F.lit(0))
    else:
        fracs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = df.agg(
            F.percentile_approx(
                F.col("_go_k").cast("double"), fracs, 100
            ).alias("_go_bs")
        )
        df = (
            df.crossJoin(bounds)
            .withColumn(
                "_go_pid",
                F.size(
                    F.filter(
                        F.col("_go_bs"),
                        lambda b: b < F.col("_go_k").cast("double"),
                    )
                ),
            )
            .drop("_go_bs")
        )
    order = [F.col("_go_k").asc(), *tiebreakers]
    w_rn = Window.partitionBy("_go_pid").orderBy(*order)
    w_cum = w_rn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df = df.withColumn("_go_lrn", F.row_number().over(w_rn).cast("long"))
    for name, col in cum_sums.items():
        df = df.withColumn(f"_go_lc_{name}", F.sum(col).over(w_cum))
    per_bucket = df.groupBy("_go_pid").agg(
        F.count(F.lit(1)).alias("_go_bn"),
        *[F.sum(col).alias(f"_go_bt_{n}") for n, col in cum_sums.items()],
    )
    # <= n_buckets rows: a bounded global window, data-independent by
    # construction (the wf_backfill_plan discipline).
    w_off = Window.orderBy("_go_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_bucket.select(
        "_go_pid",
        F.coalesce(F.sum("_go_bn").over(w_off), F.lit(0)).alias("_go_orn"),
        *[
            F.coalesce(F.sum(f"_go_bt_{n}").over(w_off), F.lit(0)).alias(
                f"_go_oc_{n}"
            )
            for n in cum_sums
        ],
    )
    df = df.join(F.broadcast(offsets), "_go_pid")
    if rank_col is not None:
        df = df.withColumn(rank_col, F.col("_go_orn") + F.col("_go_lrn"))
    for name in cum_sums:
        df = df.withColumn(name, F.col(f"_go_oc_{name}") + F.col(f"_go_lc_{name}"))
    drop = ["_go_k", "_go_pid", "_go_lrn", "_go_orn"] + [
        c for n in cum_sums for c in (f"_go_lc_{n}", f"_go_oc_{n}", f"_go_bt_{n}")
    ]
    return df.drop(*[c for c in drop if c in df.columns])


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """Exact SQL ``NTILE(k)`` from a 1-based global rank and the total
    row count ``n`` (both BIGINT): the first ``n % k`` tiles get
    ``n div k + 1`` rows, the rest ``n div k`` — integer arithmetic
    only, so it hash-matches any engine's NTILE given the same total
    order. Companion to ``global_order(rank_col=...)``."""

    def idiv(a, b):
        # Exact integer division over the FULL long domain: a - a%b is
        # exactly divisible by b, and DECIMAL(38,0)/DECIMAL(38,0)
        # division (result DECIMAL(38,6)) represents any integral
        # quotient up to 10^32 exactly — unlike double division, which
        # loses exactness past 2^53 (ADVICE r5).
        exact = (a - (a % b)).cast("decimal(38,0)") / b.cast("decimal(38,0)")
        return exact.cast("long")

    q = idiv(n, F.lit(k))
    r = n % F.lit(k)
    big = q + F.lit(1)
    in_big = rank <= big * r
    return F.when(in_big, idiv(rank + big - F.lit(1), big)).otherwise(
        r
        + idiv(
            rank - big * r + q - F.lit(1),
            F.greatest(q, F.lit(1).cast("long")),
        )
    )
