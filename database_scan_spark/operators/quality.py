"""Data-quality surface: declarative constraint audits and column
profiling over the warehouse tables.

A training-data pipeline gates ingestion on exactly these checks
(dbt-style tests / Deequ-style profiles): referential integrity,
key uniqueness, accepted value domains, numeric ranges, null and
distinct counts. The reference has no quality operator — this is a
north-star engine addition; every check is a plain aggregate the
optimizer can push into the scan, and the FK checks are shuffle
anti-joins (the correct 100 TB shape — neither side is assumed
broadcastable).

All outputs are tiny summary relations — the pattern is
"full-corpus scan in, audit row out", which is what keeps it viable
at scale: no check ever materializes the violating rows themselves
(a follow-up filter query does that on demand).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators._helpers import global_order
from ..session import persist
from ..spec import QuerySpec


def _audit_row(df: DataFrame, tbl: str, constraint: str) -> DataFrame:
    """Collapse a violating-rows DataFrame to one (tbl, constraint,
    violations) audit row."""
    return df.agg(F.count(F.lit(1)).alias("violations")).select(
        F.lit(tbl).alias("tbl"),
        F.lit(constraint).alias("constraint_name"),
        F.col("violations").cast("long"),
    )


def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One audit row per declared constraint: FK orphans (anti-join),
    duplicate keys, domain and range violations, null guards. The
    union of seven independent aggregates — Spark runs the branches
    as separate stages over pruned scans (each branch reads only the
    columns its predicate needs)."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    customer = load(spark, sf_dir, "customer")
    part = load(spark, sf_dir, "part")

    checks = [
        _audit_row(
            orders.join(
                customer, orders.o_custkey == customer.c_custkey, "left_anti"
            ),
            "orders",
            "fk_o_custkey_customer",
        ),
        _audit_row(
            lineitem.join(
                orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
            ),
            "lineitem",
            "fk_l_orderkey_orders",
        ),
        _audit_row(
            lineitem.join(part, lineitem.l_partkey == part.p_partkey, "left_anti"),
            "lineitem",
            "fk_l_partkey_part",
        ),
        _audit_row(
            orders.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1),
            "orders",
            "unique_o_orderkey",
        ),
        _audit_row(
            orders.filter(~F.col("o_orderstatus").isin("O", "F", "P")),
            "orders",
            "accepted_o_orderstatus",
        ),
        _audit_row(
            lineitem.filter(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
            ),
            "lineitem",
            "range_l_quantity_1_50",
        ),
        _audit_row(
            customer.filter(F.col("c_custkey").isNull()),
            "customer",
            "not_null_c_custkey",
        ),
    ]
    return reduce(DataFrame.unionAll, checks)


DQ_CONSTRAINT_AUDIT_ORACLE = """
SELECT 'orders' AS tbl, 'fk_o_custkey_customer' AS constraint_name,
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS violations
UNION ALL
SELECT 'lineitem', 'fk_l_orderkey_orders',
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem', 'fk_l_partkey_part',
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
UNION ALL
SELECT 'orders', 'unique_o_orderkey',
       CAST((SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
             GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT)
UNION ALL
SELECT 'orders', 'accepted_o_orderstatus',
       CAST((SELECT COUNT(*) FROM orders
             WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
UNION ALL
SELECT 'lineitem', 'range_l_quantity_1_50',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
UNION ALL
SELECT 'customer', 'not_null_c_custkey',
       CAST((SELECT COUNT(*) FROM customer WHERE c_custkey IS NULL) AS BIGINT)
"""


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def dq_profile_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style numeric column profile of lineitem: row/null/
    distinct counts and exact min/max per column. One scan per column
    branch, each pruned to a single column; min/max are exact (no
    accumulation), distinct is an exact count-distinct (the approx
    variant is agg_approx's territory)."""
    lineitem = load(spark, sf_dir, "lineitem")
    branches = [
        lineitem.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(F.col(c).cast("double")).alias("min_val"),
            F.max(F.col(c).cast("double")).alias("max_val"),
        ).select(
            F.lit(c).alias("column_name"),
            F.col("n_rows").cast("long"),
            "n_nulls",
            F.col("n_distinct").cast("long"),
            "min_val",
            "max_val",
        )
        for c in _PROFILE_COLS
    ]
    return reduce(DataFrame.unionAll, branches)


DQ_PROFILE_NUMERIC_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       MIN(CAST({c} AS DOUBLE)) AS min_val,
       MAX(CAST({c} AS DOUBLE)) AS max_val
FROM lineitem
"""
    for c in _PROFILE_COLS
)


SPECS = [
    QuerySpec(
        "dq_constraint_audit",
        dq_constraint_audit,
        DQ_CONSTRAINT_AUDIT_ORACLE,
    ),
    QuerySpec(
        "dq_profile_numeric",
        dq_profile_numeric,
        DQ_PROFILE_NUMERIC_ORACLE,
    ),
]


# ---------------------------------------------------------------------------
# Exact Pearson correlation matrix
# ---------------------------------------------------------------------------

# (x, y, per-column exact-decimal cast) — quantity is integral,
# price/discount/tax carry ≤2 fractional digits, so DECIMAL casts are
# value-exact and the five sufficient-statistic sums are associative.
_CORR_PAIRS = (
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_extendedprice", "l_discount"),
)
_CORR_DEC = "decimal(14,4)"


def dq_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem numeric columns from
    EXACT sufficient statistics: n, Σx, Σy, Σxy, Σx², Σy² are DECIMAL
    sums (associative — deterministic under Spark's unordered partial
    aggregation, unlike ``F.corr``'s streaming-moment doubles, whose
    result depends on partition merge order). The final
    r = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²))
    is evaluated in doubles from those exact sums with the same IEEE
    op sequence in both engines → bit-identical, hash-matches the
    oracle. One scan, one reduce to a single row per pair — the
    all-pairs profile a feature-engineering pass runs before model
    training; at 100 TB it's a map-side partial aggregate per column
    pair with a 6-number exchange."""
    li = load(spark, sf_dir, "lineitem")
    outs = []
    for xc, yc in _CORR_PAIRS:
        x = F.col(xc).cast(_CORR_DEC)
        y = F.col(yc).cast(_CORR_DEC)
        stats = li.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum((x * y).cast("decimal(38,8)")).cast("double").alias("sxy"),
            F.sum((x * x).cast("decimal(38,8)")).cast("double").alias("sxx"),
            F.sum((y * y).cast("decimal(38,8)")).cast("double").alias("syy"),
        )
        r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
            F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
        outs.append(
            stats.select(
                F.lit(xc).alias("col_x"),
                F.lit(yc).alias("col_y"),
                F.col("n").cast("long").alias("n_rows"),
                F.round(r, 9).alias("pearson_r"),
            )
        )
    return reduce(DataFrame.unionAll, outs)


# Oracle casts are DECIMAL(19,4), not (14,4): DuckDB clamps a
# (14,4)x(14,4) product to its int64 decimal width (18) and overflows;
# width 19 forces the INT128 path. Values are exact under both widths.
DQ_CORRELATION_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{xc}' AS col_x, '{yc}' AS col_y,
       CAST(n AS BIGINT) AS n_rows,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS pearson_r
FROM (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST({xc} AS DECIMAL(19,4))) AS DOUBLE) AS sx,
           CAST(SUM(CAST({yc} AS DECIMAL(19,4))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(CAST({xc} AS DECIMAL(19,4)) * CAST({yc} AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(CAST({xc} AS DECIMAL(19,4)) * CAST({xc} AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(CAST({yc} AS DECIMAL(19,4)) * CAST({yc} AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS syy
    FROM lineitem
)
"""
    for xc, yc in _CORR_PAIRS
)

SPECS.append(
    QuerySpec(
        "dq_correlation",
        dq_correlation,
        DQ_CORRELATION_ORACLE,
    )
)


def dq_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-extra-scan pipeline audit via `df.observe` (CollectMetrics):
    the quality-gate pass-through is written to its sink, and the audit
    aggregates (row count, exact DECIMAL value sum, ship-date bounds)
    are collected as OBSERVED METRICS on the same action — accumulator
    semantics, no second scan of the gated data. At 100 TB this is the
    difference between "write + audit" costing one pass or two; it is
    also the monitoring hook a production gate exports per batch.
    DISTINCT aggregates are rejected by CollectMetrics (use sketches —
    `agg_theta_distinct_union` — for distinct monitoring).

    The returned one-row relation is rebuilt from the observation on
    the driver (metrics are driver-side by nature, like `catalog`);
    the oracle recomputes the same aggregates independently."""
    from pyspark.sql import Observation  # noqa: PLC0415

    li = load(spark, sf_dir, "lineitem")
    obs = Observation("quality_gate")
    gated = li.filter(F.col("l_quantity") >= 45).observe(
        obs,
        F.count(F.lit(1)).alias("n_pass"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )
    gated.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_pass"],
                # NULL-safe: if the gate passes zero rows the observed
                # SUM/MIN/MAX are None — emit a NULL-metric audit row
                # (matching the oracle's NULL sums), don't crash
                float(m["sum_price"]) if m["sum_price"] is not None else None,
                m["first_ship"],
                m["last_ship"],
            )
        ],
        "n_pass bigint, sum_price double, first_ship timestamp, last_ship timestamp",
    )


DQ_OBSERVED_METRICS_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_pass,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(l_shipdate) AS first_ship,
       MAX(l_shipdate) AS last_ship
FROM lineitem WHERE l_quantity >= 45
"""

SPECS.append(
    QuerySpec(
        "dq_observed_metrics",
        dq_observed_metrics,
        DQ_OBSERVED_METRICS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dq_anomaly_mad — robust outlier detection (median absolute deviation)
# ---------------------------------------------------------------------------

_MAD_K = 0.6745  # Φ⁻¹(0.75): scales MAD to a normal-consistent sigma
_MAD_Z = 3.5  # Iglewicz-Hoaglin modified-z cutoff


def dq_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group anomaly detection on event values via MEDIAN
    ABSOLUTE DEVIATION (Iglewicz & Hoaglin modified z-score,
    |0.6745·(x−med)/MAD| > 3.5) — the monitoring primitive that,
    unlike mean/stddev gating (`wf_quality_gate`) or PSI drift
    (`dq_drift_psi`), is not itself corrupted by the outliers it
    hunts: median and MAD have a 50% breakdown point.

    Two exact-percentile aggregations (median of values, then median
    of |x−med|) with the tiny per-group medians broadcast back between
    them, then one counting pass. The outlier comparison is written
    with the IDENTICAL operation order in both engines
    (|x−med|·0.6745 > 3.5·MAD), so the IEEE doubles agree exactly.
    Scale note: exact medians hold a group's values — at 100 TB swap
    in approx_percentile; the three-pass shape (locate, spread,
    flag) is unchanged."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    # (b) scans 2 -> 3 without it
    j = persist(ev.join(F.broadcast(med), "event_type"))
    mad = j.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad")
    )
    flagged = j.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med")) * F.lit(_MAD_K)
                    > F.lit(_MAD_Z) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


DQ_ANOMALY_MAD_ORACLE = f"""
WITH base AS (
    SELECT event_type, value FROM events WHERE value IS NOT NULL
),
med AS (
    SELECT event_type,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
    FROM base GROUP BY 1
),
j AS (
    SELECT b.event_type, b.value, m.med
    FROM base b JOIN med m USING (event_type)
),
mad AS (
    SELECT event_type,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(value - med)) AS mad
    FROM j GROUP BY 1
)
SELECT j.event_type,
       round(MIN(j.med), 6) AS med,
       round(MIN(a.mad), 6) AS mad,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN abs(j.value - j.med) * {_MAD_K} > {_MAD_Z} * a.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM j JOIN mad a USING (event_type)
GROUP BY j.event_type
ORDER BY j.event_type
"""

SPECS.append(
    QuerySpec(
        "dq_anomaly_mad",
        dq_anomaly_mad,
        DQ_ANOMALY_MAD_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dq_freshness_sla — per-partition ingest-lag audit
# ---------------------------------------------------------------------------

_SLA_LAG_MIN = 30  # breach when a feed's newest event lags >30min behind


def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness SLA audit — the monitoring question every ingest
    pipeline answers first: per event_type (standing in for a feed /
    partition), how far does its newest event lag behind the
    corpus-wide high-water mark, and does that breach the 30-minute
    SLA?
    Two partial-aggregatable max() passes (per-feed, then the 1-row
    global broadcast back), lag in exact integer microseconds. The
    same two-aggregate shape audits 100 TB of landing partitions,
    because the intermediate is one row per feed."""
    ev = load(spark, sf_dir, "events").select("event_type", "ts")
    per_feed = ev.groupBy("event_type").agg(
        F.max("ts").alias("newest"), F.count(F.lit(1)).alias("n_rows")
    )
    hwm = ev.agg(F.max("ts").alias("hwm"))
    lag = F.unix_micros("hwm") - F.unix_micros("newest")
    return (
        per_feed.crossJoin(hwm)
        .select(
            "event_type",
            "n_rows",
            lag.alias("lag_us"),
            (lag > _SLA_LAG_MIN * 60 * 1_000_000).alias("sla_breach"),
        )
        .orderBy("event_type")
    )


DQ_FRESHNESS_SLA_ORACLE = f"""
WITH per_feed AS (
    SELECT event_type, max(ts) AS newest, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY event_type
),
hwm AS (SELECT max(ts) AS hwm FROM events)
SELECT event_type, n_rows,
       epoch_us(hwm) - epoch_us(newest) AS lag_us,
       (epoch_us(hwm) - epoch_us(newest))
         > {_SLA_LAG_MIN} * 60 * CAST(1000000 AS BIGINT) AS sla_breach
FROM per_feed, hwm
ORDER BY event_type
"""

SPECS.append(
    QuerySpec(
        "dq_freshness_sla",
        dq_freshness_sla,
        DQ_FRESHNESS_SLA_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dq_error_budget — SLO error-budget burn per day
# ---------------------------------------------------------------------------

_SLO_BUDGET_BP = 2200  # SLO: <=22% of events may be errors (fixture-scaled)


def dq_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget accounting — the SRE complement to the
    freshness audit: per day, the error rate in basis points, the
    day's BURN (rate/budget, >1 means the day spent more than its
    budget), and the cumulative budget consumed across the window —
    the number a burn-rate alert fires on. One conditional-count
    aggregate per day plus a cumulative window over the bounded day
    axis; rates divide exact BIGINTs and round once, so the ledger
    hash-matches."""
    ev = load(spark, sf_dir, "events")
    per_day = (
        ev.select(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            (F.col("event_type") == "error").cast("long").alias("is_err"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_err").alias("n_errors"),
        )
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rate_bp = F.col("n_errors") * 10000 / F.col("n_events")
    cum_rate_bp = (
        F.sum("n_errors").over(wcum) * 10000 / F.sum("n_events").over(wcum)
    )
    return per_day.select(
        "day",
        "n_events",
        "n_errors",
        F.round(rate_bp, 6).alias("rate_bp"),
        F.round(rate_bp / _SLO_BUDGET_BP, 6).alias("day_burn"),
        F.round(cum_rate_bp / _SLO_BUDGET_BP, 6).alias("cum_burn"),
        (rate_bp > _SLO_BUDGET_BP).alias("over_budget"),
    ).orderBy("day")


DQ_ERROR_BUDGET_ORACLE = f"""
WITH per_day AS (
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
    FROM events GROUP BY 1
)
SELECT day, n_events, n_errors,
       round(n_errors * 10000 / n_events, 6) AS rate_bp,
       round(n_errors * 10000 / n_events / {_SLO_BUDGET_BP}, 6) AS day_burn,
       round(SUM(n_errors) OVER w * 10000 / SUM(n_events) OVER w
             / {_SLO_BUDGET_BP}, 6) AS cum_burn,
       n_errors * 10000 / n_events > {_SLO_BUDGET_BP} AS over_budget
FROM per_day
WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY day
"""

SPECS.append(
    QuerySpec(
        "dq_error_budget",
        dq_error_budget,
        DQ_ERROR_BUDGET_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dq_seasonal_baseline — same-weekday baseline deviation monitor
# ---------------------------------------------------------------------------

_SEAS_Z = 2.0  # flag days beyond 2 sigma of their weekday baseline


def dq_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly monitor: each day's purchase revenue
    is judged against the baseline of ITS OWN WEEKDAY (mean ± 2σ over
    the other same-weekday days, leave-one-out so a spike can't
    inflate its own baseline) — the monitor shape that doesn't page
    on every Saturday dip the way a flat daily threshold does.

    Exactness: per-day revenue in DECIMAL; the leave-one-out mean and
    variance derive from per-weekday SUM/SUM-OF-SQUARES moments
    (broadcast back, one row per weekday), so no second pass over the
    days and no float accumulation — the flag comparison squares both
    sides (dev² vs z²·var) to stay division- and sqrt-free."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    vd = F.round("value", 6).cast("decimal(18,6)")
    per_day = ev.select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.dayofweek(F.to_date("ts")).alias("dow"),
        vd.alias("vd"),
    ).groupBy("day", "dow").agg(F.sum("vd").alias("rev"))
    moments = per_day.groupBy("dow").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("rev").alias("s1"),
        F.sum(F.col("rev") * F.col("rev")).alias("s2"),
    )
    j = per_day.join(F.broadcast(moments), "dow")
    # leave-one-out moments: exclude the row's own day
    km1 = F.col("k") - 1
    mean_loo = (F.col("s1") - F.col("rev")) / km1
    var_loo = (
        (F.col("s2") - F.col("rev") * F.col("rev")) / km1 - mean_loo * mean_loo
    )
    dev = F.col("rev") - mean_loo
    return j.select(
        "day",
        F.col("dow").cast("int").alias("dow"),
        F.col("rev").cast("double").alias("revenue"),
        F.round(mean_loo, 6).cast("double").alias("baseline"),
        (dev * dev > F.lit(_SEAS_Z * _SEAS_Z) * var_loo).alias("anomalous"),
    ).orderBy("day")


DQ_SEASONAL_BASELINE_ORACLE = f"""
WITH per_day AS (
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           dayofweek(CAST(ts AS DATE)) + 1 AS dow,  -- Spark: Sunday=1
           SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS rev
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
    GROUP BY 1, 2
),
moments AS (
    SELECT dow, CAST(COUNT(*) AS BIGINT) AS k,
           SUM(rev) AS s1, SUM(rev * rev) AS s2
    FROM per_day GROUP BY dow
)
SELECT day, CAST(p.dow AS INTEGER) AS dow,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(round((s1 - rev) / (k - 1), 6) AS DOUBLE) AS baseline,
       (rev - (s1 - rev) / (k - 1)) * (rev - (s1 - rev) / (k - 1))
         > {_SEAS_Z * _SEAS_Z}
           * ((s2 - rev * rev) / (k - 1)
              - ((s1 - rev) / (k - 1)) * ((s1 - rev) / (k - 1)))
         AS anomalous
FROM per_day p JOIN moments m ON p.dow = m.dow
ORDER BY day
"""

SPECS.append(
    QuerySpec(
        "dq_seasonal_baseline",
        dq_seasonal_baseline,
        DQ_SEASONAL_BASELINE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# wf_k_anonymity — k-anonymity publication ladder (Sweeney 2002)
# ---------------------------------------------------------------------------

K_ANON = 5  # minimum equivalence-class size


def wf_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity enforcement with a two-level generalization ladder
    — the governance gate a training-data pipeline runs before
    releasing user-derived tables. Quasi-identifier at level 0 is
    (segment, nation, acctbal/2000 band); classes smaller than
    ``K_ANON`` are GENERALIZED to level 1 (segment, region,
    acctbal/4000 band); classes still small there are SUPPRESSED.
    Output is the publishable class table: one row per surviving
    equivalence class at its level, plus a single ``level=2``
    suppression-audit row ('*', '*', band −1) counting withheld
    records — no violating class is ever emitted at its true
    granularity.

    Scale: the record side is scanned once (dim joins broadcast);
    each ladder rung is one hash aggregation on the QI key, and the
    violating-class keys re-join the records as an equi join on the
    same key (dimension-bounded class tables, map-side combine).
    All counts BIGINT — exact oracle hash-match.
    """
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    # (b) scans 3 -> 6 without it
    recs = persist(
        cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"])
        .join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .select(
            F.col("c_mktsegment").alias("s"),
            F.col("n_name").alias("nat"),
            F.col("r_name").alias("rg"),
            F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("b0"),
            F.floor(F.col("c_acctbal") / 4000).cast("bigint").alias("b1"),
        )
    )
    # (b) shuffles 5 -> 6 without it, as for l1
    l0 = persist(recs.groupBy("s", "nat", "b0").agg(F.count(F.lit(1)).alias("cnt")))
    keep0 = l0.filter(F.col("cnt") >= K_ANON).select(
        F.lit(0).alias("level"),
        F.col("s").alias("segment"),
        F.col("nat").alias("geo"),
        F.col("b0").alias("bal_band"),
        F.col("cnt").alias("class_size"),
    )
    v0 = l0.filter(F.col("cnt") < K_ANON).select("s", "nat", "b0")
    r1 = recs.join(v0, ["s", "nat", "b0"], "left_semi")
    l1 = persist(r1.groupBy("s", "rg", "b1").agg(F.count(F.lit(1)).alias("cnt")))
    keep1 = l1.filter(F.col("cnt") >= K_ANON).select(
        F.lit(1).alias("level"),
        F.col("s").alias("segment"),
        F.col("rg").alias("geo"),
        F.col("b1").alias("bal_band"),
        F.col("cnt").alias("class_size"),
    )
    v1 = l1.filter(F.col("cnt") < K_ANON).select("s", "rg", "b1")
    suppressed = (
        r1.join(v1, ["s", "rg", "b1"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 0)
        .select(
            F.lit(2).alias("level"),
            F.lit("*").alias("segment"),
            F.lit("*").alias("geo"),
            F.lit(-1).cast("bigint").alias("bal_band"),
            F.col("n").alias("class_size"),
        )
    )
    return keep0.unionByName(keep1).unionByName(suppressed)


WF_K_ANONYMITY_ORACLE = f"""
WITH recs AS (
    SELECT c_mktsegment AS s, n_name AS nat, r_name AS rg,
           CAST(floor(c_acctbal / 2000) AS BIGINT) AS b0,
           CAST(floor(c_acctbal / 4000) AS BIGINT) AS b1
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
),
l0 AS (SELECT s, nat, b0, count(*) AS cnt FROM recs GROUP BY ALL),
v0 AS (SELECT s, nat, b0 FROM l0 WHERE cnt < {K_ANON}),
r1 AS (
    SELECT recs.* FROM recs
    JOIN v0 ON recs.s = v0.s AND recs.nat = v0.nat AND recs.b0 = v0.b0
),
l1 AS (SELECT s, rg, b1, count(*) AS cnt FROM r1 GROUP BY ALL),
v1 AS (SELECT s, rg, b1 FROM l1 WHERE cnt < {K_ANON}),
r2 AS (
    SELECT r1.* FROM r1
    JOIN v1 ON r1.s = v1.s AND r1.rg = v1.rg AND r1.b1 = v1.b1
)
SELECT 0 AS level, s AS segment, nat AS geo, b0 AS bal_band,
       CAST(cnt AS BIGINT) AS class_size
FROM l0 WHERE cnt >= {K_ANON}
UNION ALL
SELECT 1, s, rg, b1, CAST(cnt AS BIGINT) FROM l1 WHERE cnt >= {K_ANON}
UNION ALL
SELECT 2, '*', '*', CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT)
FROM r2 HAVING count(*) > 0
"""

SPECS.append(
    QuerySpec(
        "wf_k_anonymity",
        wf_k_anonymity,
        WF_K_ANONYMITY_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dq_entropy_profile — Shannon-entropy column profiling (Deequ-style)
# ---------------------------------------------------------------------------

_ENTROPY_COLS: tuple[tuple[str, str], ...] = (
    ("events", "event_type"),
    ("documents", "lang"),
    ("documents", "source"),
    ("orders", "o_orderstatus"),
    ("customer", "c_mktsegment"),
)


def dq_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy profile of the categorical columns a feature
    platform monitors for collapse/drift: one audit row per column
    with row count, distinct count, and entropy in bits. Entropy
    is made hash-matchable by the package's determinism discipline:
    each term is ``cnt · round(log2(cnt/N), 12)`` — a BIGINT times a
    12-dp DECIMAL — summed as DECIMAL (exact, order-free), so the
    only cross-engine surface is libm's log2 AFTER a 12-dp round
    (the same last-ulp argument as the TF-IDF/BM25 oracles). Each
    column is one hash aggregation with map-side combine; N arrives
    as a one-row broadcast, never a global window.
    """
    out = None
    for tbl, col in _ENTROPY_COLS:
        t = load(spark, sf_dir, tbl)
        counts = t.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        tot = counts.agg(
            F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_distinct")
        )
        terms = counts.crossJoin(tot).select(
            "n_rows",
            "n_distinct",
            (
                # decimal(14,0), NOT (38,0): the product with the
                # (20,12) log term must stay within precision 38 —
                # 14+20+1=35 keeps scale 12 exactly, while (38,0)
                # overflows and Spark (allowPrecisionLoss) silently
                # drops the term to 6 dp, diverging from the oracle's
                # exact 12-dp terms. cnt < 1e14 holds for any
                # realistic per-category row count (1e12 rows total
                # at 100 TB); out-of-domain scale fails loudly below
                # (same discipline as the neighborhood-function
                # bitset guard) rather than overflowing the cast to
                # NULL and silently dropping the entropy term.
                F.when(
                    F.col("cnt") < F.lit(10_000_000_000_000_0),
                    F.col("cnt"),
                )
                .otherwise(
                    F.raise_error(
                        F.lit(
                            "dq_entropy_profile: per-category count "
                            ">= 1e14 exceeds the exact DECIMAL(14,0) "
                            "term domain; widen the term precision "
                            "split before profiling this table"
                        )
                    ).cast("bigint")
                )
                .cast("decimal(14,0)")
                * F.round(
                    F.log2(F.col("cnt").cast("double") / F.col("n_rows")), 12
                ).cast("decimal(20,12)")
            ).alias("term"),
        )
        row = terms.groupBy("n_rows", "n_distinct").agg(
            F.sum("term").alias("term_sum")
        ).select(
            F.lit(tbl).alias("tbl"),
            F.lit(col).alias("col"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            F.round(
                -(F.col("term_sum").cast("double")) / F.col("n_rows"), 6
            ).alias("entropy_bits"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("tbl", "col")


def _entropy_oracle() -> str:
    parts = []
    for tbl, col in _ENTROPY_COLS:
        parts.append(f"""
SELECT '{tbl}' AS tbl, '{col}' AS col,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       round(-CAST(term_sum AS DOUBLE) / n_rows, 6) AS entropy_bits
FROM (
    SELECT MAX(n_rows) AS n_rows, COUNT(*) AS n_distinct,
           SUM(term) AS term_sum
    FROM (
        SELECT cnt, SUM(cnt) OVER () AS n_rows,
               CAST(cnt AS DECIMAL(14,0))
               * CAST(round(log2(CAST(cnt AS DOUBLE)
                                 / (SUM(cnt) OVER ())), 12)
                      AS DECIMAL(20,12)) AS term
        FROM (SELECT {col} AS v, COUNT(*) AS cnt FROM {tbl} GROUP BY {col})
    )
    -- n_rows is window-constant per category row: MAX collapses it
)""")
    # the inner window SUM(cnt) OVER () runs on the per-category counts
    # relation (cardinality = n_distinct, bounded), not on the raw rows
    body = "\nUNION ALL\n".join(parts)
    return f"SELECT * FROM (\n{body}\n) ORDER BY tbl, col"


SPECS.append(
    QuerySpec(
        "dq_entropy_profile",
        dq_entropy_profile,
        _entropy_oracle(),
    )
)


# ---------------------------------------------------------------------------
# dq_moments — skewness / kurtosis from exact raw power sums
# ---------------------------------------------------------------------------


def dq_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape profile per event type: population skewness
    and excess kurtosis computed from EXACT integer power sums
    (Σv..Σv⁴ in DECIMAL over integer cents) — the two shape moments
    ``dq_profile_numeric`` doesn't carry. The built-in skewness()/
    kurtosis() differ between engines in bias correction, so this op
    derives both from raw moments with the IDENTICAL operation order
    on both sides (the engine's standard cross-engine float
    discipline) — making distribution-shape drift alertable under a
    hash gate. One aggregate with map-side combine; ~kilobyte state
    per group at any scale."""
    ev = load(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("decimal(19,0)")
    # count("c"), not count(*): SUM skips NULL values, so n must too —
    # a NULL-valued event would otherwise bias every moment (mean
    # under, var/skew/kurt wrong) identically on both engines, making
    # the bias invisible to the hash gate. Oracle uses COUNT(value).
    agg = ev.select(F.col("event_type"), c.alias("c")).groupBy("event_type").agg(
        F.count("c").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).alias("s3"),
        F.sum(F.col("c") * F.col("c") * F.col("c") * F.col("c")).alias("s4"),
    )
    d1 = agg["s1"].cast("double") / agg["n"]
    d2 = agg["s2"].cast("double") / agg["n"]
    d3 = agg["s3"].cast("double") / agg["n"]
    d4 = agg["s4"].cast("double") / agg["n"]
    var = d2 - d1 * d1
    skew = (d3 - 3 * d1 * d2 + 2 * d1 * d1 * d1) / (
        F.sqrt(var) * F.sqrt(var) * F.sqrt(var)
    )
    kurt = (
        d4 - 4 * d1 * d3 + 6 * d1 * d1 * d2 - 3 * d1 * d1 * d1 * d1
    ) / (var * var) - 3.0
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(d1 / 100.0, 6).alias("mean_value"),
        F.round(F.sqrt(var) / 100.0, 6).alias("stddev_pop"),
        F.round(skew, 6).alias("skewness_pop"),
        F.round(kurt, 6).alias("excess_kurtosis_pop"),
    ).orderBy("event_type")


DQ_MOMENTS_ORACLE = """
WITH agg AS (
    SELECT event_type,
           COUNT(value) AS n,
           SUM(CAST(round(value * 100) AS HUGEINT)) AS s1,
           SUM(CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)) AS s2,
           SUM(CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)) AS s3,
           SUM(CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)) AS s4
    FROM events GROUP BY event_type
),
d AS (
    SELECT event_type, n,
           CAST(s1 AS DOUBLE) / n AS d1,
           CAST(s2 AS DOUBLE) / n AS d2,
           CAST(s3 AS DOUBLE) / n AS d3,
           CAST(s4 AS DOUBLE) / n AS d4
    FROM agg
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       round(d1 / 100.0, 6) AS mean_value,
       round(sqrt(d2 - d1 * d1) / 100.0, 6) AS stddev_pop,
       round((d3 - 3 * d1 * d2 + 2 * d1 * d1 * d1)
             / (sqrt(d2 - d1 * d1) * sqrt(d2 - d1 * d1)
                * sqrt(d2 - d1 * d1)), 6) AS skewness_pop,
       round((d4 - 4 * d1 * d3 + 6 * d1 * d1 * d2
              - 3 * d1 * d1 * d1 * d1)
             / ((d2 - d1 * d1) * (d2 - d1 * d1)) - 3.0, 6)
           AS excess_kurtosis_pop
FROM d
ORDER BY event_type
"""

SPECS.append(
    QuerySpec(
        "dq_moments",
        dq_moments,
        DQ_MOMENTS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dq_annotator_agreement — Cohen's kappa between two labeling rules
# ---------------------------------------------------------------------------


def dq_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent document-quality
    "annotators" — the rule-based length band (20..1000 tokens) and
    the lexical-diversity band (type-token ratio ≥ 0.5) — the
    agreement statistic every labeling pipeline reports before
    trusting auto-labels. Emits the 2×2 confusion counts plus
    observed agreement, chance agreement and kappa.

    Exactness: the confusion matrix is four exact BIGINTs from one
    aggregate; p_o, p_e and κ are a fixed sequence of double
    divisions over those integers, written in the identical order in
    both engines, rounded 6dp. One narrow projection + one 4-cell
    aggregate: a single scan at any scale."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    a = ((F.size(toks) >= 20) & (F.size(toks) <= 1000)).cast("int")
    b = (
        F.size(F.array_distinct(toks)) * 2 >= F.size(toks)
    ).cast("int")  # TTR >= 0.5 without division
    cells = docs.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) / n
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) / (n * n)
    return cells.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n11").cast("bigint").alias("n11"),
        F.col("n10").cast("bigint").alias("n10"),
        F.col("n01").cast("bigint").alias("n01"),
        F.col("n00").cast("bigint").alias("n00"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_chance"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


DQ_ANNOTATOR_AGREEMENT_ORACLE = """
WITH lab AS (
    SELECT CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
                THEN 1 ELSE 0 END AS a,
           CASE WHEN len(list_distinct(string_split(text, ' '))) * 2
                     >= len(string_split(text, ' '))
                THEN 1 ELSE 0 END AS b
    FROM documents
),
cells AS (
    SELECT COUNT(*) AS n,
           SUM(a * b) AS n11,
           SUM(a * (1 - b)) AS n10,
           SUM((1 - a) * b) AS n01,
           SUM((1 - a) * (1 - b)) AS n00
    FROM lab
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
       CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
       round((n11 + n00) / CAST(n AS DOUBLE), 6) AS p_observed,
       round(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
             / (CAST(n AS DOUBLE) * n), 6) AS p_chance,
       round(((n11 + n00) / CAST(n AS DOUBLE)
              - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                / (CAST(n AS DOUBLE) * n))
             / (1 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                    / (CAST(n AS DOUBLE) * n)), 6) AS kappa
FROM cells
"""

SPECS.append(
    QuerySpec(
        "dq_annotator_agreement",
        dq_annotator_agreement,
        DQ_ANNOTATOR_AGREEMENT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# wf_dp_counts — differentially-private count release (geometric noise)
# ---------------------------------------------------------------------------

_DP_EPS = 1  # epsilon; per-count sensitivity is 1


def wf_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private release of per-segment customer
    counts via the geometric mechanism (Ghosh et al. 2009) — the
    publication step after ``wf_k_anonymity``'s generalization: add
    two-sided geometric noise (discrete Laplace, ε=1, sensitivity 1)
    to each count. Noise is DERIVED, not drawn: each side is
    ``floor(−ln(1−u)/ε)`` (a Geometric(1−e^{−ε}) variate) with
    ``u = (h32(salt‖segment)+0.5)/2³²`` — the package's content-hash
    uniform, so release is reproducible run-to-run and cross-engine
    (NOTE: a real deployment would use a non-public seed; determinism
    here is the test-oracle discipline, the mechanism is unchanged).

    Cross-engine exactness: u is an exact dyadic rational; the one
    libm call per side is rounded to 12 dp before floor() (the
    package's last-ulp argument, cf. the entropy/TF-IDF oracles).
    Shape: one hash aggregation over customer, then per-row noise
    arithmetic on the ≤5-row release — nothing else shuffles."""

    def geom(salt: str) -> F.Column:
        from ._helpers import h32  # noqa: PLC0415

        u = (h32(F.concat(F.lit(salt), F.col("seg"))) + F.lit(0.5)) / F.lit(
            2.0**32
        )
        return F.floor(F.round(-F.log(F.lit(1.0) - u) / _DP_EPS, 12))

    cust = load(spark, sf_dir, "customer")
    counts = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).alias("true_n")
    )
    noise = (geom("dp1-") - geom("dp2-")).cast("bigint")
    return counts.select(
        "seg",
        F.col("true_n").cast("bigint").alias("true_n"),
        noise.alias("noise"),
        (F.col("true_n") + noise).cast("bigint").alias("released_n"),
        F.lit(float(_DP_EPS)).alias("epsilon"),
    ).orderBy("seg")


def _dp_geom_sql(salt: str) -> str:
    u = (
        f"(('0x' || substring(md5('{salt}' || seg), 1, 8))::BIGINT + 0.5)"
        f" / 4294967296.0"
    )
    return f"floor(round(-ln(1 - {u}) / {_DP_EPS}, 12))"


WF_DP_COUNTS_ORACLE = f"""
WITH counts AS (
    SELECT c_mktsegment AS seg, COUNT(*) AS true_n FROM customer GROUP BY 1
),
noised AS (
    SELECT seg, true_n,
           CAST({_dp_geom_sql("dp1-")} - {_dp_geom_sql("dp2-")} AS BIGINT) AS noise
    FROM counts
)
SELECT seg, CAST(true_n AS BIGINT) AS true_n, noise,
       CAST(true_n + noise AS BIGINT) AS released_n,
       CAST({_DP_EPS} AS DOUBLE) AS epsilon
FROM noised ORDER BY seg
"""

SPECS.append(
    QuerySpec(
        "wf_dp_counts",
        wf_dp_counts,
        WF_DP_COUNTS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dq_key_discovery — PK uniqueness + FK inclusion profiling
# ---------------------------------------------------------------------------

_PK_CANDIDATES = [
    ("orders", "o_orderkey"),
    ("customer", "c_custkey"),
    ("part", "p_partkey"),
    ("supplier", "s_suppkey"),
    ("nation", "n_nationkey"),
    ("lineitem", "l_orderkey"),  # deliberately NOT unique — negative case
    ("events", "event_id"),
    ("documents", "doc_id"),
]
_FK_CANDIDATES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def dq_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-constraint DISCOVERY over the star schema — the
    metadata profiling a catalog crawler runs on unlabeled data:
    (a) primary-key candidates (distinct count == row count, no
    nulls), including a deliberate negative (lineitem.l_orderkey);
    (b) foreign-key inclusion coefficients (share of child DISTINCT
    values present in the parent key) for the candidate edges.
    All counts are exact; inclusion is computed on the deduplicated
    key dictionaries (dimension-sized), with the probe side
    broadcast where the parent is a dim — never a row-level join.

    One audit row per check, so the whole result is a data-contract
    report the engine can diff between snapshots."""
    out = None
    for tbl, col in _PK_CANDIDATES:
        t = load(spark, sf_dir, tbl)
        row = t.agg(
            F.lit("pk").alias("kind"),
            F.lit(f"{tbl}.{col}").alias("subject"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.count_distinct(F.col(col)).cast("bigint").alias("n_distinct"),
            F.sum(F.col(col).isNull().cast("bigint")).cast("bigint").alias("n_null"),
        ).select(
            "kind",
            "subject",
            "n_total",
            "n_distinct",
            F.round(F.col("n_distinct").cast("double") / F.col("n_total"), 6).alias(
                "ratio"
            ),
            (
                (F.col("n_distinct") == F.col("n_total")) & (F.col("n_null") == 0)
            ).alias("ok"),
        )
        out = row if out is None else out.unionByName(row)
    for ctbl, ccol, ptbl, pcol in _FK_CANDIDATES:
        # NULL FKs are excluded from the inclusion check on BOTH
        # sides: a NULL is "no reference", not a broken one (and the
        # oracle's COUNT(DISTINCT ccol) skips NULLs — Spark's
        # .distinct() would keep a NULL row, diverging). Nullability
        # itself is the pk checks' n_null column, not an fk defect.
        child = (
            load(spark, sf_dir, ctbl)
            .select(F.col(ccol).alias("k"))
            .filter(F.col("k").isNotNull())
            .distinct()
        )
        parent = load(spark, sf_dir, ptbl).select(F.col(pcol).alias("k")).distinct()
        matched = child.join(parent, "k", "left_semi")
        row = (
            child.agg(F.count(F.lit(1)).alias("n_child"))
            .crossJoin(matched.agg(F.count(F.lit(1)).alias("n_match")))
            .select(
                F.lit("fk").alias("kind"),
                F.lit(f"{ctbl}.{ccol}->{ptbl}.{pcol}").alias("subject"),
                F.col("n_child").cast("bigint").alias("n_total"),
                F.col("n_match").cast("bigint").alias("n_distinct"),
                F.round(
                    F.col("n_match").cast("double") / F.col("n_child"), 6
                ).alias("ratio"),
                (F.col("n_match") == F.col("n_child")).alias("ok"),
            )
        )
        out = out.unionByName(row)
    return out.orderBy("kind", "subject")


def _key_discovery_oracle() -> str:
    parts = []
    for tbl, col in _PK_CANDIDATES:
        parts.append(f"""
SELECT 'pk' AS kind, '{tbl}.{col}' AS subject,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
       round(CAST(COUNT(DISTINCT {col}) AS DOUBLE) / COUNT(*), 6) AS ratio,
       COUNT(DISTINCT {col}) = COUNT(*)
       AND SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) = 0 AS ok
FROM {tbl}""")
    for ctbl, ccol, ptbl, pcol in _FK_CANDIDATES:
        parts.append(f"""
SELECT 'fk' AS kind, '{ctbl}.{ccol}->{ptbl}.{pcol}' AS subject,
       CAST((SELECT COUNT(DISTINCT {ccol}) FROM {ctbl}) AS BIGINT) AS n_total,
       CAST((SELECT COUNT(*) FROM (SELECT DISTINCT {ccol} AS k FROM {ctbl})
             WHERE k IN (SELECT {pcol} FROM {ptbl})) AS BIGINT) AS n_distinct,
       round(CAST((SELECT COUNT(*) FROM (SELECT DISTINCT {ccol} AS k FROM {ctbl})
                   WHERE k IN (SELECT {pcol} FROM {ptbl})) AS DOUBLE)
             / (SELECT COUNT(DISTINCT {ccol}) FROM {ctbl}), 6) AS ratio,
       (SELECT COUNT(*) FROM (SELECT DISTINCT {ccol} AS k FROM {ctbl})
        WHERE k IN (SELECT {pcol} FROM {ptbl}))
       = (SELECT COUNT(DISTINCT {ccol}) FROM {ctbl}) AS ok""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY kind, subject"


SPECS.append(
    QuerySpec(
        "dq_key_discovery",
        dq_key_discovery,
        _key_discovery_oracle(),
    )
)


# ---------------------------------------------------------------------------
# dq_drift_wasserstein — exact earth-mover drift between periods
# ---------------------------------------------------------------------------

_WD_SPLIT = "2024-01-16"


def dq_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-Wasserstein (earth-mover) distance between the purchase-
    value distributions before and after the split date — the drift
    monitor that, unlike ``dq_drift_psi``'s binned ratio, is
    bin-free and metric-aware (it reports HOW FAR probability mass
    moved in cents, not just that bins changed).

    Exact on the discrete value domain: with integer per-value
    counts, ``W₁ = Σ_v gap(v)·|cum₁(v)·N₂ − cum₂(v)·N₁| / (N₁·N₂)``
    where the sum runs over distinct cents values and gap is the
    step to the next value — all BIGINT/DECIMAL until one final
    division. Shape: one hash aggregation per (value, period), then
    the distributed ``global_order`` kernel for the two cumulative
    counts AND the rank (r6 — closes VERDICT r5's last soft spot in
    the unpartitioned-window class: the value dictionary is bounded
    by the price domain in PRACTICE, but that bound is
    data-dependent, so the cumsum is now bounded BY CONSTRUCTION);
    gap comes from a self-equi-join on rank+1 (hash join, no lead()
    window). The fact is never sorted — not even its value
    dictionary. Null values are excluded on both sides (unrankable;
    fixtures are null-free — explicit precondition, not a behavior
    change)."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    split = F.lit(_WD_SPLIT).cast("date")
    per_v = ev.groupBy(
        F.round(F.col("value") * 100).cast("bigint").alias("v")
    ).agg(
        F.sum((F.to_date("ts") < split).cast("bigint")).alias("c1"),
        F.sum((F.to_date("ts") >= split).cast("bigint")).alias("c2"),
    )
    ranked = global_order(
        per_v,
        F.col("v"),
        rank_col="_rk",
        cum_sums={"cum1": F.col("c1"), "cum2": F.col("c2")},
    )
    nxt = ranked.select((F.col("_rk") - 1).alias("_rk"), F.col("v").alias("_v_next"))
    # inner join drops the max-v row — exactly the gap IS NOT NULL cut
    cum = ranked.join(nxt, "_rk").select(
        "v", "cum1", "cum2", (F.col("_v_next") - F.col("v")).alias("gap")
    )
    tot = per_v.agg(
        F.sum("c1").cast("bigint").alias("n1"), F.sum("c2").cast("bigint").alias("n2")
    )
    terms = cum.crossJoin(tot).select(
        "n1",
        "n2",
        (
            F.col("gap").cast("decimal(38,0)")
            * F.abs(
                F.col("cum1").cast("decimal(38,0)") * F.col("n2")
                - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
            )
        ).alias("t"),
    )
    return terms.groupBy("n1", "n2").agg(F.sum("t").alias("mass")).select(
        "n1",
        "n2",
        F.round(
            F.col("mass").cast("double")
            / (F.col("n1").cast("double") * F.col("n2")),
            6,
        ).alias("wasserstein_cents"),
    )


DQ_DRIFT_WASSERSTEIN_ORACLE = f"""
WITH per_v AS (
    SELECT CAST(round(value * 100) AS BIGINT) AS v,
           SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_WD_SPLIT}'
                    THEN 1 ELSE 0 END) AS c1,
           SUM(CASE WHEN CAST(ts AS DATE) >= DATE '{_WD_SPLIT}'
                    THEN 1 ELSE 0 END) AS c2
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
    GROUP BY 1
),
cum AS (
    SELECT v,
           SUM(c1) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
           SUM(c2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
           lead(v) OVER (ORDER BY v) - v AS gap
    FROM per_v
),
tot AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
    FROM per_v
),
terms AS (
    SELECT n1, n2,
           CAST(gap AS DECIMAL(38,0))
           * abs(CAST(cum1 AS DECIMAL(38,0)) * n2
                 - CAST(cum2 AS DECIMAL(38,0)) * n1) AS t
    FROM cum CROSS JOIN tot
    WHERE gap IS NOT NULL
)
SELECT n1, n2,
       round(CAST(SUM(t) AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * n2), 6) AS wasserstein_cents
FROM terms GROUP BY n1, n2
"""

SPECS.append(
    QuerySpec(
        "dq_drift_wasserstein",
        dq_drift_wasserstein,
        DQ_DRIFT_WASSERSTEIN_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dq_outlier_ensemble — three detectors vote per daily point
# ---------------------------------------------------------------------------


def dq_outlier_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble outlier vote over daily purchase revenue: the IQR
    fence (Tukey 1.5×), the MAD modified z (Iglewicz-Hoaglin 3.5),
    and the 3σ rule each flag days independently; a day is reported
    when ANY detector fires, with all three votes — the triage view
    that tells an on-call whether a spike is robust-confirmed or a
    single-detector artifact (each detector's standalone op:
    `filter_outlier_iqr`, `dq_anomaly_mad`, `win_rolling_zscore`).

    Exactness: daily cents are BIGINT; IQR fences and the median/MAD
    are shared interpolating percentiles; the 3σ test uses the
    CLEARED integer form ``(n·x − S)² > 9·(n·Q − S²)`` (DECIMAL
    products, no division); MAD/IQR comparisons are doubles over
    exact inputs — all branch-deterministic cross-engine. One daily
    aggregation, two tiny percentile aggregates, broadcast scalars."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100)).cast("bigint").alias("x")
    )
    stats = daily.agg(
        F.expr("percentile(x, 0.25)").alias("q1"),
        F.expr("percentile(x, 0.75)").alias("q3"),
        F.expr("percentile(x, 0.5)").alias("med"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q"),
    )
    mad = (
        daily.crossJoin(stats)
        .select(F.abs(F.col("x") - F.col("med")).alias("ad"))
        .agg(F.expr("percentile(ad, 0.5)").alias("mad"))
    )
    j = daily.crossJoin(stats).crossJoin(mad)
    iqr = F.col("q3") - F.col("q1")
    iqr_flag = (F.col("x") < F.col("q1") - 1.5 * iqr) | (
        F.col("x") > F.col("q3") + 1.5 * iqr
    )
    mad_flag = (
        0.6745 * F.abs(F.col("x") - F.col("med")) > 3.5 * F.col("mad")
    )
    lhs = (F.col("n") * F.col("x") - F.col("s"))
    z_flag = lhs * lhs > 9 * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    flagged = j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        iqr_flag.alias("iqr_flag"),
        mad_flag.alias("mad_flag"),
        z_flag.alias("z_flag"),
        (
            iqr_flag.cast("int") + mad_flag.cast("int") + z_flag.cast("int")
        ).alias("votes"),
    ).filter(F.col("votes") > 0)
    return flagged.orderBy("day")


DQ_OUTLIER_ENSEMBLE_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(round(value * 100)) AS BIGINT) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
stats AS (
    SELECT percentile_cont(0.25) WITHIN GROUP (ORDER BY x) AS q1,
           percentile_cont(0.75) WITHIN GROUP (ORDER BY x) AS q3,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY x) AS med,
           CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
           CAST(SUM(x) AS DECIMAL(38,0)) AS s,
           SUM(CAST(x AS DECIMAL(38,0)) * x) AS q
    FROM daily
),
madt AS (
    SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(x - med)) AS mad
    FROM daily CROSS JOIN stats
),
j AS (SELECT * FROM daily CROSS JOIN stats CROSS JOIN madt),
flagged AS (
    SELECT strftime(day, '%Y-%m-%d') AS day, x,
           (x < q1 - 1.5 * (q3 - q1) OR x > q3 + 1.5 * (q3 - q1)) AS iqr_flag,
           0.6745 * abs(x - med) > 3.5 * mad AS mad_flag,
           (n * x - s) * (n * x - s) > 9 * (n * q - s * s) AS z_flag
    FROM j
)
SELECT day, x, iqr_flag, mad_flag, z_flag,
       CAST(iqr_flag AS INT) + CAST(mad_flag AS INT) + CAST(z_flag AS INT)
           AS votes
FROM flagged
WHERE CAST(iqr_flag AS INT) + CAST(mad_flag AS INT) + CAST(z_flag AS INT) > 0
ORDER BY day
"""

SPECS.append(
    QuerySpec(
        "dq_outlier_ensemble",
        dq_outlier_ensemble,
        DQ_OUTLIER_ENSEMBLE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dq_schema_contract — declared catalog schema vs physical parquet schema
# ---------------------------------------------------------------------------

# Cross-engine type vocabulary: Spark simpleString / DuckDB data_type
# both normalize into the declared catalog vocabulary.
_TYPE_NORM: dict[str, str] = {
    "varchar": "string",
    "integer": "int",
    "timestamp_ns": "timestamp",
    "timestamp_ntz": "timestamp",
    "timestamp with time zone": "timestamp",
    "float[]": "array<float>",
}


def dq_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema data contract: the catalog's DECLARED StructTypes
    (catalog.TABLES — the engine's publish contract) audited against
    the PHYSICAL parquet schemas on disk, column by column: presence
    both ways (full outer join), type equality under a shared
    cross-engine normalization, ordinal position. This is the check a
    lakehouse runs before promoting a new fixture generation — the
    events.ts TIMESTAMP(NANOS)→(MICROS) migration this repo already
    lived through is exactly the class of drift it catches.

    Both sides are METADATA (footer reads, no data pages); the
    result is a ~60-row audit relation. The physical side is the
    footer as Spark infers it (``catalog.read_raw``, not ``load``,
    whose declared read schema would audit the contract against
    itself), with ``events.ts`` normalised by ``catalog.events_ts``:
    the raw reader surfaces nanos-generation timestamps as bigint, a
    reader compatibility detail, not a physical type change (the
    parquet logical type IS timestamp)."""
    from ..catalog import TABLES, events_ts, read_raw  # noqa: PLC0415

    decl_rows = [
        (t, f.name, i + 1, f.dataType.simpleString().lower())
        for t, st in sorted(TABLES.items())
        for i, f in enumerate(st.fields)
    ]
    decl = spark.createDataFrame(decl_rows, "tbl string, col string, pos int, declared string")
    act_rows = []
    for t in sorted(TABLES):
        df = read_raw(spark, sf_dir, t)
        if t == "events":
            df = df.withColumn("ts", events_ts(df.schema["ts"].dataType))
        for i, f in enumerate(df.schema.fields):
            act_rows.append((t, f.name, i + 1, f.dataType.simpleString().lower()))
    act = spark.createDataFrame(act_rows, "tbl string, col string, apos int, actual string")

    def norm(c):
        e = F.lower(F.col(c))
        expr = None
        for k, v in _TYPE_NORM.items():
            w = (e == k)
            expr = F.when(w, v) if expr is None else expr.when(w, v)
        return expr.otherwise(e)

    j = decl.join(act, ["tbl", "col"], "full_outer")
    dt, at = norm("declared"), norm("actual")
    return j.select(
        "tbl",
        "col",
        "pos",
        dt.alias("declared_type"),
        at.alias("actual_type"),
        F.coalesce(
            (dt == at) & (F.col("pos") == F.col("apos")), F.lit(False)
        ).alias("is_match"),
    ).orderBy("tbl", "col")


def _schema_contract_oracle() -> str:
    from ..catalog import TABLES  # noqa: PLC0415

    decl_values = ",\n    ".join(
        f"('{t}', '{f.name}', {i + 1}, '{f.dataType.simpleString().lower()}')"
        for t, st in sorted(TABLES.items())
        for i, f in enumerate(st.fields)
    )
    tbl_list = ", ".join(f"'{t}'" for t in sorted(TABLES))
    case_arms = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _TYPE_NORM.items()
    )
    return f"""
WITH decl(tbl, col, pos, declared) AS (VALUES
    {decl_values}
),
act AS (
    SELECT table_name AS tbl, column_name AS col,
           CAST(ordinal_position AS INTEGER) AS apos,
           CASE lower(data_type) {case_arms} ELSE lower(data_type) END AS actual
    FROM information_schema.columns
    WHERE table_name IN ({tbl_list})
),
normed AS (
    SELECT COALESCE(d.tbl, a.tbl) AS tbl, COALESCE(d.col, a.col) AS col,
           d.pos,
           CASE lower(d.declared) {case_arms} ELSE lower(d.declared) END
               AS declared_type,
           a.actual AS actual_type,
           a.apos
    FROM decl d FULL OUTER JOIN act a ON d.tbl = a.tbl AND d.col = a.col
)
SELECT tbl, col, pos, declared_type, actual_type,
       COALESCE(declared_type = actual_type AND pos = apos, FALSE) AS is_match
FROM normed
ORDER BY tbl, col
"""


SPECS.append(
    QuerySpec(
        "dq_schema_contract",
        dq_schema_contract,
        _schema_contract_oracle(),
    )
)


# ---------------------------------------------------------------------------
# wf_dlq_replay — quarantine → fix → re-ingest lifecycle
# ---------------------------------------------------------------------------


def wf_dlq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of the dead-letter story
    (``stream_dlq_split`` quarantines): REPLAY. Quarantined rows are
    repaired with rule-per-reason transforms — error events zero
    their value, below-floor values clamp up to the floor, above-cap
    values clamp down to the cap — and re-ingested alongside the
    originally-accepted rows. The audit
    proves conservation: per final route, row counts and an exact
    value checksum, with total rows == the original input (nothing
    lost in the round trip, every repair attributable to its rule).

    Row-local predicates and transforms throughout — at 100 TB the
    replay is a narrow scan of the (small) quarantine, never of the
    accepted corpus."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value", "props")
    reason = (
        F.when(F.col("event_type") == "error", F.lit("error_event"))
        .when(F.col("value") < 5, F.lit("below_value_floor"))
        .when(F.col("value") > 450, F.lit("above_value_cap"))
        .when(F.get_json_object("props", "$.k").isNull(), F.lit("unparseable_props"))
    )
    tagged = ev.withColumn("reason", reason)
    accepted = tagged.filter(F.col("reason").isNull()).select(
        "event_id", F.col("value").alias("v"), F.lit("accepted_first_pass").alias("route")
    )
    repaired = tagged.filter(F.col("reason").isNotNull()).select(
        "event_id",
        F.when(F.col("reason") == "error_event", F.lit(0.0))
        .when(F.col("reason") == "below_value_floor", F.lit(5.0))
        .when(F.col("reason") == "above_value_cap", F.lit(450.0))
        .otherwise(F.col("value"))
        .alias("v"),
        F.concat(F.lit("replayed_"), F.col("reason")).alias("route"),
    )
    return (
        accepted.unionByName(repaired)
        .groupBy("route")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("value_checksum"),
        )
        .orderBy("route")
    )


WF_DLQ_REPLAY_ORACLE = """
WITH tagged AS (
    SELECT event_id, value,
           CASE WHEN event_type = 'error' THEN 'error_event'
                WHEN value < 5 THEN 'below_value_floor'
                WHEN value > 450 THEN 'above_value_cap'
                WHEN json_extract_string(props, '$.k') IS NULL THEN 'unparseable_props'
           END AS reason
    FROM events
),
routed AS (
    SELECT event_id, value AS v, 'accepted_first_pass' AS route
    FROM tagged WHERE reason IS NULL
    UNION ALL
    SELECT event_id,
           CASE reason WHEN 'error_event' THEN 0.0
                       WHEN 'below_value_floor' THEN 5.0
                       WHEN 'above_value_cap' THEN 450.0
                       ELSE value END,
           'replayed_' || reason
    FROM tagged WHERE reason IS NOT NULL
)
SELECT route,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS value_checksum
FROM routed GROUP BY route ORDER BY route
"""

SPECS.append(
    QuerySpec(
        "wf_dlq_replay",
        wf_dlq_replay,
        WF_DLQ_REPLAY_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# dq_split_leakage_audit — cross-split near-dup contamination
# ---------------------------------------------------------------------------


def dq_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: count verified near-duplicate pairs
    that STRADDLE the corpus split — a near-dup of a test document
    sitting in train silently inflates eval scores (the Lee et al.
    deduplication finding). Composes two registered legs verbatim:
    `split_train_test`'s hash-range assignment (so the audit reflects
    the REAL split rule, not a test-only re-derivation) and
    `dedup_ngram_jaccard`'s verified pairs. Output: one row per
    ordered split pair (train→test, train→val, …) with the pair count
    and an order-free doc-id checksum, plus within-split pairs for
    the denominator.

    Shape: the pair relation is near-dup-sized (tiny vs the corpus),
    so the PAIR side is the broadcast side — the split-tag relation
    is one row per DOCUMENT (corpus-sized; broadcasting it would be
    the exact OOM the scale-posture tests ban elsewhere). Each tag
    join streams the corpus side and broadcasts the pairs; one hash
    agg. At any corpus size the expensive step is the pair generation
    the dedup family already optimized — the audit itself is free."""
    from ._helpers import h32  # noqa: PLC0415
    from .dedup import dedup_ngram_jaccard  # noqa: PLC0415
    from .sampling import split_assignment  # noqa: PLC0415

    docs = load(spark, sf_dir, "documents").select("doc_id")
    tags = docs.select(
        "doc_id", split_assignment(F.col("doc_id")).alias("split")
    )
    # pairs (near-dup-sized) is the broadcast side
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    half = tags.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    ).join(F.broadcast(pairs), "doc_a")
    tagged = (
        tags.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
        .join(F.broadcast(half), "doc_b")
        # canonical unordered split pair: (min, max) by split name
        .select(
            F.least("split_a", "split_b").alias("s_lo"),
            F.greatest("split_a", "split_b").alias("s_hi"),
            "doc_a",
            "doc_b",
        )
    )
    return (
        tagged.groupBy("s_lo", "s_hi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                h32(F.col("doc_a").cast("string")) + h32(F.col("doc_b").cast("string"))
            )
            .cast("bigint")
            .alias("pairs_checksum"),
            (F.col("s_lo") != F.col("s_hi")).cast("int").alias("is_leakage"),
        )
        .select("s_lo", "s_hi", "is_leakage", "n_pairs", "pairs_checksum")
        .orderBy("s_lo", "s_hi")
    )


DQ_SPLIT_LEAKAGE_AUDIT_ORACLE = f"""
WITH sh AS (
    SELECT doc_id,
           unnest(list_distinct([
               t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               FOR i IN generate_series(1, greatest(len(t) - 2, 0))
           ])) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS c
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b
    FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(c * 1.0 / (sa.n + sb.n - c), 6) >= {{thr}}
),
tags AS (
    SELECT doc_id,
           CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
                THEN 'train'
                WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
                THEN 'val' ELSE 'test' END AS split
    FROM documents
),
tagged AS (
    SELECT LEAST(ta.split, tb.split) AS s_lo,
           GREATEST(ta.split, tb.split) AS s_hi,
           p.doc_a, p.doc_b
    FROM pairs p JOIN tags ta ON p.doc_a = ta.doc_id
                 JOIN tags tb ON p.doc_b = tb.doc_id
)
SELECT s_lo, s_hi,
       CAST(s_lo <> s_hi AS INTEGER) AS is_leakage,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(('0x' || substring(md5(CAST(doc_a AS VARCHAR)), 1, 8))::BIGINT
              + ('0x' || substring(md5(CAST(doc_b AS VARCHAR)), 1, 8))::BIGINT)
            AS BIGINT) AS pairs_checksum
FROM tagged
GROUP BY s_lo, s_hi
ORDER BY s_lo, s_hi
"""


def _leakage_oracle() -> str:
    from .dedup import JACCARD_THRESHOLD  # noqa: PLC0415

    return DQ_SPLIT_LEAKAGE_AUDIT_ORACLE.replace("{thr}", str(JACCARD_THRESHOLD))


SPECS.append(
    QuerySpec(
        "dq_split_leakage_audit",
        dq_split_leakage_audit,
        _leakage_oracle(),
    )
)


# ---------------------------------------------------------------------------
# dq_dup_rate_by_source — per-source duplication governance report
# ---------------------------------------------------------------------------


def dq_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication-rate report — the governance table a
    corpus owner reads before re-crawling a source: exact-duplicate
    rate (docs whose full text appears elsewhere in the CORPUS,
    counted per source) and the surviving-after-dedup fraction under
    keep-first-by-doc_id. Two hash-aggs over one scan: group text →
    (cluster size, keeper) — the dedup_exact shape — then re-join to
    the source dim and roll up. Permille integers (exact) plus the
    derived ratio; no float accumulation. At 100 TB: text would be
    replaced by its fingerprint column (text_fingerprint) so the
    first group-by shuffles 16-byte keys, not documents."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    clusters = docs.groupBy("text").agg(
        F.count(F.lit(1)).alias("cluster_n"),
        F.min("doc_id").alias("keeper_id"),
    )
    labeled = docs.join(clusters, "text").select(
        "source",
        (F.col("cluster_n") > 1).cast("long").alias("is_dup_member"),
        (F.col("doc_id") == F.col("keeper_id")).cast("long").alias("is_keeper"),
    )
    agg = labeled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup_member").cast("long").alias("n_in_dup_clusters"),
        F.sum("is_keeper").cast("long").alias("n_kept"),
    )
    # n_docs is count(*) of the GROUP BY group, >= 1 by construction
    # (a source group only exists when it has rows), so the divisions
    # below cannot hit zero on either engine — no guard needed, unlike
    # quality_funnel's stage arithmetic where docs_in CAN be 0.
    return agg.select(
        "source",
        "n_docs",
        "n_in_dup_clusters",
        "n_kept",
        (F.col("n_in_dup_clusters") * 1000 / F.col("n_docs"))
        .cast("long")
        .alias("dup_permille"),
        F.round(F.col("n_kept") / F.col("n_docs"), 6).alias("survival_rate"),
    )


DQ_DUP_RATE_BY_SOURCE_ORACLE = """
WITH clusters AS (
    SELECT text, CAST(count(*) AS BIGINT) AS cluster_n,
           min(doc_id) AS keeper_id
    FROM documents GROUP BY text
), labeled AS (
    SELECT d.source,
           CASE WHEN c.cluster_n > 1 THEN 1 ELSE 0 END AS is_dup_member,
           CASE WHEN d.doc_id = c.keeper_id THEN 1 ELSE 0 END AS is_keeper
    FROM documents d JOIN clusters c USING (text)
), agg AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_dup_member) AS BIGINT) AS n_in_dup_clusters,
           CAST(sum(is_keeper) AS BIGINT) AS n_kept
    FROM labeled GROUP BY source
)
SELECT source, n_docs, n_in_dup_clusters, n_kept,
       CAST(n_in_dup_clusters * 1000 // n_docs AS BIGINT) AS dup_permille,
       round(n_kept * 1.0 / n_docs, 6) AS survival_rate
FROM agg
"""

SPECS.append(
    QuerySpec(
        "dq_dup_rate_by_source",
        dq_dup_rate_by_source,
        DQ_DUP_RATE_BY_SOURCE_ORACLE,
    )
)


def dq_near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate governance companion to ``dq_dup_rate_by_source``:
    per source, how many documents participate in at least one
    VERIFIED MinHash near-dup pair (the banded-LSH pipeline's output,
    single source of truth) and the permille rate. The pair relation
    is LSH-sized — orders smaller than the corpus — so the rollup is
    a broadcast semi-join plus one hash-agg."""
    from .dedup import dedup_minhash_lsh  # noqa: PLC0415 - avoid cycle at import

    pairs = dedup_minhash_lsh(spark, sf_dir)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_near_dup", F.lit(1))
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    agg = (
        docs.join(F.broadcast(dup_docs), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("is_near_dup", F.lit(0)))
            .cast("long")
            .alias("n_near_dup"),
        )
    )
    return agg.select(
        "source",
        "n_docs",
        "n_near_dup",
        (F.col("n_near_dup") * 1000 / F.col("n_docs")).cast("long").alias(
            "near_dup_permille"
        ),
    )


def _near_dup_rate_oracle() -> str:
    from .dedup import _minhash_oracle  # noqa: PLC0415

    return f"""
WITH pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({_minhash_oracle()})),
dup_docs AS (
    SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
    )
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
       CAST(sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS near_dup_permille
FROM documents d LEFT JOIN dup_docs dd USING (doc_id)
GROUP BY d.source
"""


SPECS.append(
    QuerySpec(
        "dq_near_dup_rate_by_source",
        dq_near_dup_rate_by_source,
        _near_dup_rate_oracle(),
    )
)
