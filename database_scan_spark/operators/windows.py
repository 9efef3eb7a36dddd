"""Window functions + time windows (SURVEY.md §2.8 'absent' surface,
§2.12 streaming-shape aggregations in their batch form).

The reference has no analytic windows (SURVEY §2.8); the engine adds
the full surface. Time-window ops here run on batch DataFrames with
the SAME ``window``/``session_window`` expressions the streaming jobs
use (`database_scan_spark/streaming/jobs.py`), so correctness is
hash-checked once against the DuckDB oracle and the streaming path
reuses the checked expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..spec import QuerySpec
from ._helpers import money


def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per supplier over an explicit total order.
    (shipdate, orderkey, linenumber) is unique within the slice on
    every driver fixture, but the synthetic lineitem is NOT globally
    (orderkey, linenumber)-unique (118k duplicate pairs at sf0.1) and
    the 10x-skew fixture surfaced colliding rows with DIFFERENT
    prices — so the summed value itself is the final tiebreaker:
    rows still tied after it carry equal values, and a running sum is
    permutation-invariant across equal-value ties (the canonical
    row-sorted hash compare cannot tell the orders apart). DECIMAL
    keeps the running sum exact."""
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 10)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(money("l_extendedprice"))
        .over(w)
        .cast("double")
        .alias("running_rev"),
    )


WIN_RUNNING_SUM_ORACLE = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
            PARTITION BY l_suppkey
            ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev
FROM lineitem WHERE l_suppkey <= 10
"""


def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank per nation by account balance."""
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        load(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.rank().over(w).cast("int").alias("rnk"),
            F.dense_rank().over(w).cast("int").alias("drnk"),
        )
        .filter(F.col("rnk") <= 5)
    )


WIN_RANK_DENSE_ORACLE = """
SELECT c_nationkey, c_custkey, c_acctbal,
       CAST(RANK() OVER w AS INTEGER) AS rnk,
       CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
QUALIFY rnk <= 5
"""


def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over each user's event timeline (event_id is the
    unique tiebreaker — ts collisions must not flip neighbors)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


WIN_LAG_LEAD_ORACLE = """
SELECT user_id, event_id, value,
       LAG(value) OVER w AS prev_value,
       LEAD(value) OVER w AS next_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute windows per event_type (batch form of the
    streaming aggregation — same `window()` expression). Epoch-aligned
    in both engines, so `time_bucket` is the oracle."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


WIN_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start,
       time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS w_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


def win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 10-minute length, 5-minute slide. Each event
    belongs to 2 windows; the oracle materializes both grid offsets."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events",
        )
    )


WIN_SLIDING_ORACLE = """
WITH expanded AS (
    SELECT time_bucket(INTERVAL '5 minutes', ts) - (off * INTERVAL '5 minutes') AS w_start
    FROM events, (SELECT UNNEST([0, 1]) AS off)
)
SELECT w_start, w_start + INTERVAL '10 minutes' AS w_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM expanded
GROUP BY 1, 2
"""


def win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap) per user — batch
    `session_window`. Oracle: gaps-and-islands (lag + cumulative
    new-session flags); session end = last event + gap, matching
    Spark's session_window semantics."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


WIN_SESSION_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, value, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL '5 minutes'
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    -- event_id tiebreak REQUIRED: a non-unique ORDER BY ts ROWS frame
    -- could place an unflagged tied row before its flagged twin,
    -- assigning it to the previous session (ts-collision discipline)
    SELECT user_id, ts, value,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '5 minutes' AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, session_id
"""


SPECS = [
    QuerySpec("win_running_sum", win_running_sum, WIN_RUNNING_SUM_ORACLE),
    QuerySpec("win_rank_dense", win_rank_dense, WIN_RANK_DENSE_ORACLE),
    QuerySpec("win_lag_lead", win_lag_lead, WIN_LAG_LEAD_ORACLE),
    QuerySpec("win_tumbling", win_tumbling, WIN_TUMBLING_ORACLE),
    QuerySpec("win_sliding", win_sliding, WIN_SLIDING_ORACLE),
    QuerySpec("win_session", win_session, WIN_SESSION_ORACLE),
]


def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-based window frame over event time: per user, the count
    and sum of events in the trailing 10 minutes (value-range frame,
    not row-count frame — rows at equal distance enter together).
    Spark's rangeBetween needs a numeric ordering column → epoch
    seconds; the oracle uses the same epoch ordering."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts") / F.lit(1_000_000))
        .rangeBetween(-600, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_10m"),
        F.sum(money("value")).over(w).cast("double").alias("sum_trailing_10m"),
    )


WIN_RANGE_FRAME_ORACLE = """
SELECT user_id, event_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_10m,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_10m
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) / 1000000.0
             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
"""

SPECS.append(
    QuerySpec("win_range_frame", win_range_frame, WIN_RANGE_FRAME_ORACLE)
)


def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile quartiles, cume_dist and
    percent_rank over account balance per segment (unique tiebreak)."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return load(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


WIN_DISTRIBUTION_ORACLE = """
SELECT c_mktsegment, c_custkey, c_acctbal,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
       round(CUME_DIST() OVER w, 6) AS cume,
       round(PERCENT_RANK() OVER w, 6) AS pct_rank
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""

SPECS.append(
    QuerySpec("win_distribution", win_distribution, WIN_DISTRIBUTION_ORACLE)
)


def _dense_hour_grid(agg: DataFrame) -> DataFrame:
    """Dense (hour × event_type) grid for the gap-repair family
    (``win_gap_fill`` zero-fill, ``win_interpolate`` blend) — ONE
    shared construction so the two repairs can't diverge. Derived
    from the hourly aggregate ITSELF, not from extra passes over the
    raw events: min/max of the agg's hour column equals
    date_trunc(hour, min/max ts), and the agg already carries every
    observed event_type — so the fact table is scanned exactly once
    (the groupBy), and the three consumers of ``agg`` share its one
    shuffle via ReuseExchange. Grid stays dim-sized (hours × types)
    at any corpus size; both legs broadcast."""
    bounds = agg.agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    )
    types = agg.select("event_type").distinct()
    return F.broadcast(hours).crossJoin(F.broadcast(types))


def win_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: hourly event counts per type with the
    EMPTY hours present as zero rows — downstream resampling/charting
    needs the dense calendar, and a groupBy alone silently drops
    silent hours. The dense (hour × type) grid comes from
    ``_dense_hour_grid`` over the hourly aggregate itself, so the
    only full-table work is the one groupBy — literally: bounds and
    types are dim-sized reads of that aggregate, not extra fact
    scans. At 100 TB the grid stays dim-sized (hours × types), so
    the left join is a broadcast, never a shuffle of the fact
    aggregate."""
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(money("value")).alias("sum_value"),
    )
    grid = _dense_hour_grid(agg)
    return (
        grid.join(agg, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce(F.col("sum_value"), F.lit(0)).cast("double").alias("sum_value"),
        )
    )


WIN_GAP_FILL_ORACLE = """
WITH b AS (
    SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
    FROM events
),
hours AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b
),
types AS (SELECT DISTINCT event_type FROM events),
agg AS (
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(value AS DECIMAL(18,2))) AS sum_value
    FROM events
    GROUP BY 1, 2
)
SELECT h.hour, t.event_type,
       COALESCE(a.n_events, 0) AS n_events,
       CAST(COALESCE(a.sum_value, 0) AS DOUBLE) AS sum_value
FROM hours h
CROSS JOIN types t
LEFT JOIN agg a ON a.hour = h.hour AND a.event_type = t.event_type
ORDER BY h.hour, t.event_type
"""

SPECS.append(
    QuerySpec(
        "win_gap_fill",
        win_gap_fill,
        WIN_GAP_FILL_ORACLE,
    )
)


def win_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: flag orders whose total is
    >2.5 sample standard deviations from the customer's trailing
    10-order window — the fraud/outlier screen shape.

    Cross-engine float discipline: the rolling moments are EXACT
    BIGINT window sums over integer cents (count, Σx, Σx²), so they
    are order-independent; mean/σ/z are then derived with the SAME
    double expression in both engines — identical inputs, identical
    IEEE ops, bit-identical z. (A naive stddev window would diverge:
    segment-tree vs streaming accumulation orders differ.) One
    exchange on o_custkey; the frame is a narrow per-partition scan."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-9, Window.currentRow)
    )
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (money("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    stats = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cents").over(w).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("s2"),
    )
    var_num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")  # n²·(n-1)/n · σ²
    z = F.when(
        (F.col("n") >= 5) & (var_num > 0),
        F.round(
            (F.col("cents") * F.col("n") - F.col("s1"))
            / F.sqrt(var_num * F.col("n") / (F.col("n") - F.lit(1.0))),
            6,
        ),
    )
    return stats.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("cents") / 100.0, 2).alias("price"),
        F.col("n").alias("n_window"),
        z.alias("zscore"),
        F.coalesce(F.abs(z) > 2.5, F.lit(False)).alias("is_anomaly"),
    )


WIN_ROLLING_ZSCORE_ORACLE = """
WITH o AS (
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM orders
),
stats AS (
    SELECT o_custkey, o_orderkey, o_orderdate, cents,
           CAST(COUNT(*) OVER w AS BIGINT) AS n,
           CAST(SUM(cents) OVER w AS BIGINT) AS s1,
           CAST(SUM(cents * cents) OVER w AS BIGINT) AS s2
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
scored AS (
    SELECT *,
           CASE WHEN n >= 5 AND n * s2 - s1 * s1 > 0
                THEN round((cents * n - s1)
                           / sqrt((n * s2 - s1 * s1) * n / (n - 1.0)), 6)
           END AS zscore
    FROM stats
)
SELECT o_custkey, o_orderkey, o_orderdate,
       round(cents / 100.0, 2) AS price,
       n AS n_window,
       zscore,
       COALESCE(abs(zscore) > 2.5, FALSE) AS is_anomaly
FROM scored
"""

SPECS.append(
    QuerySpec(
        "win_rolling_zscore",
        win_rolling_zscore,
        WIN_ROLLING_ZSCORE_ORACLE,
    )
)


def win_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (event_type, 1-hour bucket) the open/
    high/low/close of `value` plus count and DECIMAL-exact sum — the
    standard timeseries resample. Open/close are picked by explicit
    (ts, event_id) total order (row_number both directions in ONE
    shuffle — both window specs share the partition key with the
    final aggregate, so Spark plans a single exchange)."""
    ev = load(spark, sf_dir, "events")
    bucketed = ev.select(
        "event_type",
        "value",
        "ts",
        "event_id",
        F.window("ts", "1 hour").getField("start").alias("w_start"),
    )
    w_asc = Window.partitionBy("event_type", "w_start").orderBy("ts", "event_id")
    w_desc = Window.partitionBy("event_type", "w_start").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        bucketed.withColumn("rn_a", F.row_number().over(w_asc))
        .withColumn("rn_d", F.row_number().over(w_desc))
        .groupBy("event_type", "w_start")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_val"),
            F.max("value").alias("high_val"),
            F.min("value").alias("low_val"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_val"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
    )


WIN_OHLC_RESAMPLE_ORACLE = """
WITH b AS (
    SELECT event_type, value, ts, event_id,
           time_bucket(INTERVAL '1 hour', ts) AS w_start
    FROM events
),
r AS (
    SELECT *,
           row_number() OVER (PARTITION BY event_type, w_start
                              ORDER BY ts, event_id) AS rn_a,
           row_number() OVER (PARTITION BY event_type, w_start
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM b
)
SELECT event_type, w_start,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_val,
       MAX(value) AS high_val,
       MIN(value) AS low_val,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_val,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM r GROUP BY 1, 2
"""

SPECS.append(
    QuerySpec(
        "win_ohlc_resample",
        win_ohlc_resample,
        WIN_OHLC_RESAMPLE_ORACLE,
    )
)


def win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's LONGEST run of consecutive
    active days. Classic sessionization-by-calendar shape (distinct
    from the time-gap ``win_session``): distinct active days get a
    per-user row_number, and ``day − rn`` is constant within a
    consecutive run — one groupBy on that anchor yields the islands,
    a per-user argmax picks the longest (earliest start on ties).
    Two narrow shuffles on user_id; no self-join, no calendar table."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).dropDuplicates(["user_id", "day"])
    w = Window.partitionBy("user_id").orderBy("day")
    islands = (
        days.withColumn("rn", F.row_number().over(w))
        .withColumn("anchor", F.date_sub(F.col("day"), F.col("rn")))
        .groupBy("user_id", "anchor")
        .agg(
            F.count(F.lit(1)).alias("streak_days"),
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
        )
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("start_day")
    )
    return (
        islands.withColumn("pos", F.row_number().over(pick))
        .filter(F.col("pos") == 1)
        .select(
            "user_id",
            "streak_days",
            # ISO strings: Spark DATE and DuckDB DATE reach pandas as
            # different dtypes (object date vs datetime64), which the
            # canonical hash would see as different values
            F.col("start_day").cast("string").alias("start_day"),
            F.col("end_day").cast("string").alias("end_day"),
        )
    )


WIN_STREAK_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
anchored AS (
    SELECT user_id, day,
           day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                      AS INTEGER) AS anchor
    FROM days
),
runs AS (
    SELECT user_id, anchor,
           CAST(COUNT(*) AS BIGINT) AS streak_days,
           MIN(day) AS start_day,
           MAX(day) AS end_day
    FROM anchored
    GROUP BY user_id, anchor
)
SELECT user_id, streak_days,
       strftime(start_day, '%Y-%m-%d') AS start_day,
       strftime(end_day, '%Y-%m-%d') AS end_day
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY streak_days DESC, start_day ASC) AS pos
      FROM runs)
WHERE pos = 1
"""

SPECS.append(
    QuerySpec(
        "win_streak",
        win_streak,
        WIN_STREAK_ORACLE,
    )
)


def win_nav_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS navigation — the sparse-signal window family
    beyond `win_forward_fill`'s last(): for each event (per user,
    time-ordered with a unique tiebreak), the FIRST and the SECOND
    purchase value seen so far (`first_value` / `nth_value` with
    IGNORE NULLS over a growing frame), treating non-purchase rows as
    gaps. The classic "carry sparse measurements across dense
    timelines" shape; one exchange, no joins."""
    ev = load(spark, sf_dir, "events")
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first(pv, ignorenulls=True).over(w).alias("first_purchase_value"),
        F.nth_value(pv, 2, ignoreNulls=True).over(w).alias("second_purchase_value"),
        F.last(pv, ignorenulls=True).over(w).alias("latest_purchase_value"),
    )


WIN_NAV_IGNORE_NULLS_ORACLE = """
SELECT event_id, user_id,
       first_value(pv IGNORE NULLS) OVER w AS first_purchase_value,
       nth_value(pv, 2 IGNORE NULLS) OVER w AS second_purchase_value,
       last_value(pv IGNORE NULLS) OVER w AS latest_purchase_value
FROM (SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'purchase' THEN value END AS pv
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

SPECS.append(
    QuerySpec(
        "win_nav_ignore_nulls",
        win_nav_ignore_nulls,
        WIN_NAV_IGNORE_NULLS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# win_twap — time-weighted average (irregular-interval signal)
# ---------------------------------------------------------------------------


def win_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average of each user's event value — the
    irregular-time-series mean (finance TWAP / monitoring gauge
    average) that a plain AVG gets wrong whenever observations arrive
    unevenly: each value is held until the next observation and
    weighted by that holding interval. lead(ts) over the
    (ts, event_id)-ordered per-user frame gives the interval; the last
    observation has no interval and drops (standard left-closed TWAP).

    Exactness: intervals are integer MICROSECONDS, values quantized to
    decimal(18,6), so the value·dt products and both sums are exact
    decimals — the single double division happens once per user at the
    end and rounds to 6. One shuffle (the window sort), then the
    groupBy rides the same partitioning. At 100 TB this is the
    canonical gauge-rollup plan: state per row is one lead()."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    dt = F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
    vd = F.round("value", 6).cast("decimal(18,6)")
    spans = ev.select(
        "user_id", vd.alias("vd"), dt.alias("dt_us")
    ).filter(F.col("dt_us").isNotNull())
    return (
        spans.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dt_us").alias("span_us"),
            F.round(
                F.sum(F.col("vd") * F.col("dt_us")).cast("double")
                / F.sum("dt_us").cast("double"),
                6,
            ).alias("twap"),
        )
    )


WIN_TWAP_ORACLE = """
WITH spans AS (
    SELECT user_id,
           CAST(round(value, 6) AS DECIMAL(18,6)) AS vd,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             - epoch_us(ts) AS dt_us
    FROM events WHERE value IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dt_us) AS BIGINT) AS span_us,
       round(CAST(SUM(vd * dt_us) AS DOUBLE) / CAST(SUM(dt_us) AS DOUBLE), 6)
         AS twap
FROM spans WHERE dt_us IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""

SPECS.append(
    QuerySpec(
        "win_twap",
        win_twap,
        WIN_TWAP_ORACLE,
    )
)


def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over the cumulative purchase-value
    curve — the canonical nested-window shape (running SUM, running
    MAX of that, max deficit) that stress-tests window composition:
    three frames over ONE (ts, event_id)-ordered sort, no
    re-shuffle between them because all three share the user_id
    partitioning. Purchases count +value, errors −value (a synthetic
    P&L so the curve actually draws down); everything accumulates in
    DECIMAL, so the running sums are exact and the DuckDB twin
    hash-matches. Per-row state is O(1); the plan survives
    billion-row users."""
    signed = F.when(
        F.col("event_type") == "purchase", F.round("value", 6)
    ).otherwise(-F.round("value", 6))
    ev = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("purchase", "error")
            & F.col("value").isNotNull()
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            signed.cast("decimal(18,6)").alias("delta"),
        )
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = ev.select(
        "user_id", "ts", "event_id", F.sum("delta").over(run).alias("cum")
    )
    curve = with_cum.select(
        "user_id",
        "cum",
        F.max("cum").over(run).alias("peak"),
    )
    return (
        curve.groupBy("user_id")
        .agg(
            F.max(F.col("peak") - F.col("cum")).cast("double").alias("max_drawdown"),
            F.max("peak").cast("double").alias("peak_value"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


WIN_DRAWDOWN_ORACLE = """
WITH with_cum AS (
    SELECT user_id, ts, event_id,
           SUM(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum
    FROM (
        SELECT user_id, ts, event_id,
               CAST(CASE WHEN event_type = 'purchase' THEN round(value, 6)
                         ELSE -round(value, 6) END AS DECIMAL(18,6)) AS delta
        FROM events
        WHERE event_type IN ('purchase', 'error') AND value IS NOT NULL
    )
),
curve AS (
    SELECT user_id, cum,
           MAX(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS peak
    FROM with_cum
)
SELECT user_id,
       CAST(MAX(peak - cum) AS DOUBLE) AS max_drawdown,
       CAST(MAX(peak) AS DOUBLE) AS peak_value,
       CAST(COUNT(*) AS BIGINT) AS n_points
FROM curve
GROUP BY user_id
ORDER BY user_id
"""

SPECS.append(
    QuerySpec(
        "win_drawdown",
        win_drawdown,
        WIN_DRAWDOWN_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# win_cusum — CUSUM change-point monitor via the exact prefix-min identity
# ---------------------------------------------------------------------------


def _daily_priority_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(priority, day) revenue series in exact integer cents —
    the ONE input construction shared by the day-series monitors
    (``win_cusum``, ``win_hampel``, ``analytic_trend_mk``,
    ``analytic_theil_sen``) and mirrored by their oracles' ``daily``
    CTEs, so a change to the cents derivation cannot make them
    disagree about the same series."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            F.to_date("o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("priority", "day")
        .agg(F.sum("cents").alias("x"))
    )


def win_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point monitor over the per-priority
    daily revenue series (Page 1954). The textbook recursion
    ``C_t = max(0, C_{t-1} + (x_t − k))`` is NOT window-expressible,
    but its closed form is: with prefix sums ``P_t = Σ(x_i − k)``,
    ``C⁺_t = P_t − min(0, min_{j≤t} P_j)`` and symmetrically
    ``C⁻_t = max(0, max_{j≤t} P_j) − P_t`` — two ordinary cumulative
    windows, no iteration. Each side carries the standard slack
    allowance (reference level k ± madm/2) so in-control noise does
    not accumulate; alarm when either side exceeds ``5 × meanAbsDev``
    (integer h·σ̂ analog — ≈6%% of fixture days alarm).

    Exactness: revenue in integer cents, reference level
    ``k = ⌊Σx/n⌋`` and dispersion ``⌊Σ|x−k|/n⌋`` integer-floored —
    the whole monitor is BIGINT arithmetic, hash-exact. Scale: one
    groupBy to days, one tiny per-priority stats agg broadcast back,
    and the cumulative windows partition BY PRIORITY over the
    day-distinct relation — calendar-bounded rows per partition, no
    global window. (At 100 TB the cents sums outgrow BIGINT around
    10^18 — promote the sums to DECIMAL(38,0); layout unchanged.)
    """
    daily = _daily_priority_cents(spark, sf_dir)
    stats = daily.groupBy("priority").agg(
        F.floor(F.sum("x") / F.count(F.lit(1))).cast("bigint").alias("k")
    )
    with_k = daily.join(F.broadcast(stats), "priority")
    disp = with_k.groupBy("priority").agg(
        F.floor(F.sum(F.abs(F.col("x") - F.col("k"))) / F.count(F.lit(1)))
        .cast("bigint")
        .alias("madm")
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    slack = F.floor(F.col("madm") / 2).cast("bigint")
    cum = (
        with_k.join(F.broadcast(disp), "priority")
        .withColumn("pp", F.sum(F.col("x") - F.col("k") - slack).over(w))
        .withColumn("pn", F.sum(F.col("x") - F.col("k") + slack).over(w))
        .withColumn("minpp", F.min("pp").over(w))
        .withColumn("maxpn", F.max("pn").over(w))
    )
    cpos = F.col("pp") - F.least(F.lit(0), F.col("minpp"))
    cneg = F.greatest(F.lit(0), F.col("maxpn")) - F.col("pn")
    return cum.select(
        "priority",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        cpos.alias("cusum_pos"),
        cneg.alias("cusum_neg"),
        ((cpos > 5 * F.col("madm")) | (cneg > 5 * F.col("madm")))
        .cast("int")
        .alias("alarm"),
    )


WIN_CUSUM_ORACLE = """
WITH daily AS (
    SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
    FROM orders GROUP BY ALL
),
stats AS (
    SELECT priority, CAST(SUM(x) // COUNT(*) AS BIGINT) AS k
    FROM daily GROUP BY priority
),
disp AS (
    SELECT d.priority, CAST(SUM(abs(d.x - s.k)) // COUNT(*) AS BIGINT) AS madm
    FROM daily d JOIN stats s USING (priority) GROUP BY d.priority
),
prefix AS (
    SELECT d.priority, d.day, d.x, p.madm,
           SUM(d.x - s.k - p.madm // 2) OVER w AS pp,
           SUM(d.x - s.k + p.madm // 2) OVER w AS pn
    FROM daily d JOIN stats s USING (priority) JOIN disp p ON d.priority = p.priority
    WINDOW w AS (PARTITION BY d.priority ORDER BY d.day ROWS UNBOUNDED PRECEDING)
),
cum AS (
    SELECT priority, day, x, madm, pp, pn,
           MIN(pp) OVER w AS minpp,
           MAX(pn) OVER w AS maxpn
    FROM prefix
    WINDOW w AS (PARTITION BY priority ORDER BY day ROWS UNBOUNDED PRECEDING)
)
SELECT priority, strftime(day, '%Y-%m-%d') AS day, CAST(x AS BIGINT) AS x,
       CAST(pp - least(0, minpp) AS BIGINT) AS cusum_pos,
       CAST(greatest(0, maxpn) - pn AS BIGINT) AS cusum_neg,
       CAST(CASE WHEN pp - least(0, minpp) > 5 * madm
                  OR greatest(0, maxpn) - pn > 5 * madm
                 THEN 1 ELSE 0 END AS INTEGER) AS alarm
FROM cum
ORDER BY priority, day
"""

SPECS.append(
    QuerySpec(
        "win_cusum",
        win_cusum,
        WIN_CUSUM_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# win_hampel — rolling-median (Hampel) outlier filter
# ---------------------------------------------------------------------------


def win_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over the per-priority daily revenue series: flag
    a day when it deviates from its ±3-ROW rolling median (the 3
    nearest observed days each side — ROWS frame, so on a series with
    calendar gaps the 7-row window spans more than 7 calendar days;
    densify with ``_dense_hour_grid``-style scaffolding first if true
    calendar-day locality is required) by more than 3.5× the rolling
    MAD — the robust local-outlier test (the rolling counterpart of
    the global ``dq_anomaly_mad``; a spike inside a drifting series
    is invisible to a global MAD but not to this one).

    Exactness: values are integer cents; the rolling median and MAD
    are DISCRETE (lower-middle of the sorted 7-row frame, computed
    by sorting the frame's collect_list — both medians come from ONE
    window pass, since each row's deviation array derives from its
    own frame array), and the 3.5× test is written as the integer
    comparison ``2·|x−med| > 7·mad``. Zero floats anywhere. Scale:
    partitioned by priority over the calendar-bounded daily
    relation; the frame array is 7 elements — constant memory."""
    daily = _daily_priority_cents(spark, sf_dir)
    w = Window.partitionBy("priority").orderBy("day").rowsBetween(-3, 3)
    arr = F.array_sort(F.collect_list("x").over(w))
    mid = (F.size(arr) + 1) / 2
    framed = daily.withColumn("arr", arr).withColumn(
        "med", F.element_at(F.col("arr"), F.floor(mid).cast("int"))
    )
    devs = F.array_sort(
        F.transform(F.col("arr"), lambda v: F.abs(v - F.col("med")))
    )
    out = framed.withColumn(
        "mad",
        F.element_at(devs, F.floor((F.size(devs) + 1) / 2).cast("int")),
    )
    return out.select(
        "priority",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        "med",
        "mad",
        (2 * F.abs(F.col("x") - F.col("med")) > 7 * F.col("mad"))
        .cast("int")
        .alias("outlier"),
    )


WIN_HAMPEL_ORACLE = """
WITH daily AS (
    SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
    FROM orders GROUP BY ALL
),
framed AS (
    SELECT priority, day, x,
           list_sort(list(x) OVER (
               PARTITION BY priority ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
    FROM daily
),
med AS (
    SELECT priority, day, x, arr,
           arr[CAST(floor((len(arr) + 1) / 2) AS INTEGER)] AS med
    FROM framed
),
mad AS (
    SELECT priority, day, x, med,
           list_sort(list_transform(arr, v -> abs(v - med)))
               [CAST(floor((len(arr) + 1) / 2) AS INTEGER)] AS mad
    FROM med
)
SELECT priority, strftime(day, '%Y-%m-%d') AS day,
       CAST(x AS BIGINT) AS x, CAST(med AS BIGINT) AS med,
       CAST(mad AS BIGINT) AS mad,
       CAST(CASE WHEN 2 * abs(x - med) > 7 * mad THEN 1 ELSE 0 END
            AS INTEGER) AS outlier
FROM mad
ORDER BY priority, day
"""

SPECS.append(
    QuerySpec(
        "win_hampel",
        win_hampel,
        WIN_HAMPEL_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# win_interpolate — linear interpolation of missing time-series points
# ---------------------------------------------------------------------------


def win_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the dense hourly grid: hours with no
    events for a type get the time-weighted blend of the nearest
    observed neighbors — the third member of the gap-repair family
    (``win_gap_fill`` = zero-fill, ``win_forward_fill`` = LOCF, this
    = interpolate), which is what sensor/metric resampling actually
    wants. No extrapolation: hours before the first / after the last
    observation stay NULL.

    Exactness: observed values are integer cents; the blend
    ``prev + ⌊(next−prev)·dt/DT⌋`` floors a double DIVISION whose
    operands are exact integers well under 2⁵³ — bit-identical in
    both engines. Scale: the dense grid is dim-sized (hours × types,
    derived from the hourly aggregate itself — ``_dense_hour_grid``);
    the neighbor lookups are two frames of ONE window partitioning
    (type-ordered-by-hour); the only full-table work is the hourly
    groupBy."""
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100)).cast("bigint").alias("cents"))
    grid = _dense_hour_grid(agg).join(agg, ["hour", "event_type"], "left")
    epoch = F.unix_timestamp("hour")
    obs_h = F.when(F.col("cents").isNotNull(), epoch)
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    withnb = (
        grid.withColumn("h_e", epoch)
        .withColumn("prev_v", F.last("cents", ignorenulls=True).over(w_prev))
        .withColumn("prev_h", F.last(obs_h, ignorenulls=True).over(w_prev))
        .withColumn("next_v", F.first("cents", ignorenulls=True).over(w_next))
        .withColumn("next_h", F.first(obs_h, ignorenulls=True).over(w_next))
    )
    interp = F.col("prev_v") + F.floor(
        (F.col("next_v") - F.col("prev_v"))
        * (F.col("h_e") - F.col("prev_h"))
        / (F.col("next_h") - F.col("prev_h"))
    ).cast("bigint")
    filled = F.when(F.col("cents").isNotNull(), F.col("cents")).otherwise(
        F.when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(), interp
        )
    )
    return withnb.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
        F.col("cents").isNotNull().cast("int").alias("observed"),
        filled.cast("bigint").alias("cents_filled"),
    )


WIN_INTERPOLATE_ORACLE = """
WITH agg AS (
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(SUM(round(value * 100)) AS BIGINT) AS cents
    FROM events GROUP BY ALL
),
bounds AS (
    SELECT date_trunc('hour', min(ts)) AS lo,
           date_trunc('hour', max(ts)) AS hi
    FROM events
),
grid AS (
    SELECT h.hour, t.event_type, a.cents
    FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
          FROM bounds) h
    CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    LEFT JOIN agg a ON a.hour = h.hour AND a.event_type = t.event_type
),
nb AS (
    SELECT event_type, hour, cents,
           epoch(hour) AS h_e,
           last_value(cents IGNORE NULLS) OVER w_prev AS prev_v,
           last_value(CASE WHEN cents IS NOT NULL THEN epoch(hour) END
                      IGNORE NULLS) OVER w_prev AS prev_h,
           first_value(cents IGNORE NULLS) OVER w_next AS next_v,
           first_value(CASE WHEN cents IS NOT NULL THEN epoch(hour) END
                       IGNORE NULLS) OVER w_next AS next_h
    FROM grid
    WINDOW w_prev AS (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w_next AS (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       strftime(hour, '%Y-%m-%d %H:00') AS hour,
       CAST(cents IS NOT NULL AS INTEGER) AS observed,
       CAST(CASE WHEN cents IS NOT NULL THEN cents
                 WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                 THEN prev_v + CAST(floor((next_v - prev_v)
                                          * (h_e - prev_h)
                                          / (next_h - prev_h)) AS BIGINT)
            END AS BIGINT) AS cents_filled
FROM nb
ORDER BY event_type, hour
"""

SPECS.append(
    QuerySpec(
        "win_interpolate",
        win_interpolate,
        WIN_INTERPOLATE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# win_sax_symbolize — SAX time-series symbolization (PAA + breakpoints)
# ---------------------------------------------------------------------------

_SAX_SEG_DAYS = 5
_SAX_BP = 0.6745  # N(0,1) quartile breakpoints -> 4-symbol alphabet


def win_sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin et al. 2003): each
    user's daily mean-value series is z-normalized, averaged into
    5-day PAA segments, and each segment mapped to a 4-letter
    alphabet at the N(0,1) quartile breakpoints — the symbolic
    fingerprint that makes time-series motif/novelty mining a string
    problem (and a GROUP BY / join problem at 100 TB, instead of a
    per-pair DTW).

    Determinism: daily means and per-user moments are exact DECIMAL
    sums collapsed once to doubles; PAA averages are DECIMAL(18,6)
    sums of 6dp-rounded z-scores divided by exact day counts; the
    breakpoint comparison sees bit-identical doubles in both engines.
    Shapes: one (user, day) aggregate, windows over the per-user
    daily relation (≤ calendar size), one final per-user
    string-assembly aggregate."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.col("user_id"),
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
            money("value").alias("x"),
        )
        .groupBy("user_id", "d")
        .agg(
            F.round((F.sum("x") / F.count(F.lit(1))).cast("double"), 6).alias("m")
        )
    )
    w_u = Window.partitionBy("user_id")
    stats = daily.select(
        "user_id",
        "d",
        "m",
        F.sum(F.col("m").cast("decimal(18,6)")).over(w_u).cast("double").alias("s"),
        F.sum((F.col("m").cast("decimal(18,6)") * F.col("m").cast("decimal(18,6)")))
        .over(w_u)
        .cast("double")
        .alias("ss"),
        F.count(F.lit(1)).over(w_u).alias("n"),
    )
    mean = F.col("s") / F.col("n")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")
    z = F.when(var <= 0, F.lit(0.0)).otherwise(
        F.round((F.col("m") - mean) / F.sqrt(var), 6)
    )
    seg = F.floor(
        F.datediff(F.col("d").cast("date"), F.lit("2024-01-01").cast("date"))
        / _SAX_SEG_DAYS
    ).cast("int")
    zed = stats.select("user_id", "n", seg.alias("seg"), z.alias("z"))
    paa = (
        zed.groupBy("user_id", "n", "seg")
        .agg(
            F.round(
                (F.sum(F.col("z").cast("decimal(18,6)")) / F.count(F.lit(1))).cast(
                    "double"
                ),
                6,
            ).alias("paa")
        )
        .withColumn(
            "sym",
            F.when(F.col("paa") < -_SAX_BP, "a")
            .when(F.col("paa") < 0, "b")
            .when(F.col("paa") < _SAX_BP, "c")
            .otherwise("d"),
        )
    )
    return (
        paa.groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_days"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "sym"))),
                    lambda x: x["sym"],
                ),
                "",
            ).alias("sax"),
        )
    )


WIN_SAX_SYMBOLIZE_ORACLE = f"""
WITH daily AS (
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS d,
           round(CAST(SUM(CAST(value AS DECIMAL(18,2))) / COUNT(*) AS DOUBLE), 6) AS m
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT user_id, d, m,
           CAST(SUM(CAST(m AS DECIMAL(18,6))) OVER wu AS DOUBLE) AS s,
           CAST(SUM(CAST(m AS DECIMAL(18,6)) * CAST(m AS DECIMAL(18,6))) OVER wu AS DOUBLE) AS ss,
           COUNT(*) OVER wu AS n
    FROM daily
    WINDOW wu AS (PARTITION BY user_id)
),
zed AS (
    SELECT user_id, n,
           CAST(FLOOR(date_diff('day', DATE '2024-01-01', CAST(d AS DATE))
                      / {_SAX_SEG_DAYS}) AS INTEGER) AS seg,
           CASE WHEN (ss - s * s / n) / n <= 0 THEN 0.0
                ELSE round((m - s / n) / sqrt((ss - s * s / n) / n), 6) END AS z
    FROM stats
),
paa AS (
    SELECT user_id, n, seg,
           round(CAST(SUM(CAST(z AS DECIMAL(18,6))) / COUNT(*) AS DOUBLE), 6) AS paa
    FROM zed GROUP BY 1, 2, 3
),
sym AS (
    SELECT user_id, n, seg,
           CASE WHEN paa < -{_SAX_BP} THEN 'a'
                WHEN paa < 0 THEN 'b'
                WHEN paa < {_SAX_BP} THEN 'c'
                ELSE 'd' END AS sym
    FROM paa
)
SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_days,
       string_agg(sym, '' ORDER BY seg) AS sax
FROM sym GROUP BY user_id ORDER BY user_id
"""

SPECS.append(
    QuerySpec(
        "win_sax_symbolize",
        win_sax_symbolize,
        WIN_SAX_SYMBOLIZE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# win_decay_score — exponentially time-decayed engagement score
# ---------------------------------------------------------------------------

_DECAY_LAMBDA = 0.1  # per-day decay rate (half-life ~6.9 days)
_DECAY_ASOF = "2024-01-31"  # scoring instant (fixture horizon end)


def win_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user:
    Σ value·e^(−λ·age_days) at a fixed scoring instant — the
    recency-weighted feature every ranking/CRM system maintains
    (λ=0.1/day ≈ 6.9-day half-life). Age is computed in exact
    microseconds from the fixed as-of instant; each term's decay
    factor is rounded to 6dp and the weighted contributions are
    summed as DECIMAL(18,6) (exact, associative) so Spark's unordered
    partial aggregation cannot perturb the float total — the same
    discipline as every money sum in the package. One scan, one
    aggregate; at 100 TB the incremental-maintenance trick (multiply
    the standing score by the day's decay factor, add the new day) is
    algebraically available because the decay is multiplicative."""
    ev = load(spark, sf_dir, "events")
    age_days = (
        F.lit(_DECAY_ASOF).cast("timestamp").cast("double") - F.col("ts").cast("double")
    ) / 86400.0
    term = F.round(
        money("value").cast("double")
        * F.exp(-F.lit(_DECAY_LAMBDA) * age_days),
        6,
    )
    return (
        ev.select("user_id", term.cast("decimal(18,6)").alias("t"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("t").cast("double").alias("decay_score"),
        )
    )


WIN_DECAY_SCORE_ORACLE = f"""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE)
                 * exp(-{_DECAY_LAMBDA} * (epoch(TIMESTAMP '{_DECAY_ASOF}') - epoch(ts)) / 86400.0), 6)
             AS DECIMAL(18,6))) AS DOUBLE) AS decay_score
FROM events
GROUP BY user_id
ORDER BY user_id
"""

SPECS.append(
    QuerySpec(
        "win_decay_score",
        win_decay_score,
        WIN_DECAY_SCORE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# win_mtd_ytd — calendar running totals + same-month-last-year comparison
# ---------------------------------------------------------------------------


def win_mtd_ytd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar BI running totals: per order MONTH, the month's
    revenue, the year-to-date cumulative, and the year-over-year
    ratio against the same month last year (basis points, integer
    division — no float drift). The fact aggregates once to month
    grain; every window and the YoY self-join then run on the
    MONTHS relation (≤ a few hundred rows at any corpus size), so
    the plan is one fact shuffle + dimension-sized windows — the
    shape a 100 TB revenue dashboard needs.

    All money stays DECIMAL (order-free partial sums); YoY is NULL
    for months with no prior-year counterpart rather than a fake 0."""
    rev = money("o_totalprice")
    months = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(F.sum(rev).alias("month_rev"))
    )
    w_ytd = (
        Window.partitionBy("yr")
        .orderBy("mo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cur = months.withColumn("ytd_rev", F.sum("month_rev").over(w_ytd))
    prior = months.select(
        (F.col("yr") + 1).alias("yr"),
        F.col("mo"),
        F.col("month_rev").alias("prev_year_rev"),
    )
    return (
        cur.join(prior, ["yr", "mo"], "left")
        .select(
            F.col("yr").cast("int").alias("yr"),
            F.col("mo").cast("int").alias("mo"),
            # DECIMAL through every sum, double only at the output
            # boundary (the repo-wide oracle-match discipline)
            F.col("month_rev").cast("double").alias("month_rev"),
            F.col("ytd_rev").cast("double").alias("ytd_rev"),
            F.col("prev_year_rev").cast("double").alias("prev_year_rev"),
            # basis points via exact integer CENTS: DECIMAL '//' rounds
            # differently across engines, BIGINT div does not
            F.when(
                F.col("prev_year_rev") > 0,
                F.expr(
                    "CAST(month_rev * 100 AS BIGINT) * 10000 "
                    "div CAST(prev_year_rev * 100 AS BIGINT)"
                ),
            ).alias("yoy_bp"),
        )
    )


WIN_MTD_YTD_ORACLE = """
WITH months AS (
    SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS month_rev
    FROM orders GROUP BY 1, 2
),
cur AS (
    SELECT *,
           SUM(month_rev) OVER (PARTITION BY yr ORDER BY mo
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ytd_rev
    FROM months
)
SELECT CAST(c.yr AS INTEGER) AS yr,
       CAST(c.mo AS INTEGER) AS mo,
       CAST(c.month_rev AS DOUBLE) AS month_rev,
       CAST(c.ytd_rev AS DOUBLE) AS ytd_rev,
       CAST(p.month_rev AS DOUBLE) AS prev_year_rev,
       CASE WHEN p.month_rev > 0 THEN
           CAST(CAST(c.month_rev * 100 AS BIGINT) * 10000
                // CAST(p.month_rev * 100 AS BIGINT) AS BIGINT)
       END AS yoy_bp
FROM cur c
LEFT JOIN months p ON p.yr = c.yr - 1 AND p.mo = c.mo
ORDER BY yr, mo
"""

SPECS.append(
    QuerySpec(
        "win_mtd_ytd",
        win_mtd_ytd,
        WIN_MTD_YTD_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# win_running_sum_sharded — hot-partition-safe distributed prefix sum
# ---------------------------------------------------------------------------


def win_running_sum_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per user WITHOUT an indivisible per-user window
    partition — the mitigation SCALE.md's round-9 skew rehearsal
    measures the need for (a window partitioned by a hot key puts that
    key's entire timeline in ONE task; `win_lag_lead`/`win_ewma` were
    the only skew ratios above 1).

    Classic two-pass distributed prefix sum, expressed with built-in
    ops only:

    1. chunk each user's timeline by calendar day (`date_trunc` — any
       granularity that respects the ts order works; pick it so one
       chunk fits a task),
    2. per-(user, chunk) totals via partial aggregation (the hot user
       now splits across chunks, and combiners collapse it map-side),
    3. cumulative chunk offsets on the (user, chunk) TOTALS relation —
       a window over a dimension-sized input (users x days),
    4. within-chunk running sums — bounded window partitions — plus a
       broadcast join of the offsets back in.

    Exactly the plain `win_running_sum` semantics (same total order:
    ties share a ts, hence a day, hence a chunk), but the largest
    window partition is one user-DAY regardless of how hot a user is.
    NULL-exact too: SQL's running SUM is NULL only while the frame has
    seen zero non-NULL values, so the recombination tracks a running
    non-null COUNT alongside the sums (a NULL-valued prefix inside a
    chunk must not erase prior chunks' totals, and a leading all-NULL
    span must stay NULL rather than become 0).
    DECIMAL throughout; double only at the output boundary."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        money("value").alias("v"),
        F.date_trunc("day", F.col("ts")).alias("chunk"),
    )
    chunk_totals = ev.groupBy("user_id", "chunk").agg(
        F.sum("v").alias("chunk_total"),
        F.count("v").alias("chunk_nn"),
    )
    w_off = (
        Window.partitionBy("user_id")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = chunk_totals.select(
        "user_id",
        "chunk",
        F.coalesce(
            F.sum("chunk_total").over(w_off),
            F.lit(0).cast("decimal(18,2)"),
        ).alias("chunk_offset"),
        F.coalesce(F.sum("chunk_nn").over(w_off), F.lit(0)).alias(
            "nn_offset"
        ),
    )
    w_in = (
        Window.partitionBy("user_id", "chunk")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("run_in_chunk", F.sum("v").over(w_in))
        .withColumn("nn_in_chunk", F.count("v").over(w_in))
        .join(F.broadcast(offsets), ["user_id", "chunk"])
        .select(
            "user_id",
            "event_id",
            F.when(
                F.col("nn_offset") + F.col("nn_in_chunk") == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(
                (
                    F.col("chunk_offset")
                    + F.coalesce(
                        F.col("run_in_chunk"),
                        F.lit(0).cast("decimal(18,2)"),
                    )
                ).cast("double")
            )
            .alias("running_value"),
        )
    )


WIN_RUNNING_SUM_SHARDED_ORACLE = """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_value
FROM events
"""

SPECS.append(
    QuerySpec(
        "win_running_sum_sharded",
        win_running_sum_sharded,
        WIN_RUNNING_SUM_SHARDED_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Sharded navigation windows (VERDICT r9 item 4). The r9 hot-key skew
# rehearsal measured `win_lag_lead` 1.16x and `win_ewma` 1.12x on the
# 40%-hot fixture — a window partitioned by a hot user is indivisible,
# so that user's whole timeline lands in ONE task. The running-sum fix
# (chunk + offset recombination) does not generalize to nav functions
# directly: lag(k) can cross an arbitrary number of chunk boundaries
# when chunks are short. The general hot-safe shape used here is a
# GLOBAL DENSE INDEX built from bounded windows (within-chunk
# row_number + broadcast cumulative chunk offsets — the same two-pass
# trick as win_running_sum_sharded), after which every navigation
# lookup is an EQUI-JOIN on (user_id, index ± k): hash-partitioned on
# the composite key, so a hot user's rows spread across tasks like any
# other join. Exact for any chunk population, including chunks shorter
# than the lag depth.
# ---------------------------------------------------------------------------


def _indexed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + a per-user dense timeline index `g` (1-based, ordered
    by ts, event_id) built WITHOUT a whole-user window partition:
    within-chunk row_number (bounded: one user-day) plus broadcast
    cumulative chunk offsets (dimension-sized: users x days)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.date_trunc("day", F.col("ts")).alias("chunk"),
    )
    w_in = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    ev = ev.withColumn("rn", F.row_number().over(w_in))
    counts = ev.groupBy("user_id", "chunk").agg(F.count(F.lit(1)).alias("n"))
    w_off = (
        Window.partitionBy("user_id")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        "user_id",
        "chunk",
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off"),
    )
    return (
        ev.join(F.broadcast(offs), ["user_id", "chunk"])
        .withColumn("g", F.col("off") + F.col("rn"))
        .drop("chunk", "rn", "off")
    )


def win_lag_lead_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe lag/lead: same result relation as `win_lag_lead`
    (which windows over whole user timelines), but neighbor lookup is
    two equi-joins on the dense index — no per-user window partition
    anywhere, so a 40%-hot user costs the same as a cold one."""
    idx = _indexed_events(spark, sf_dir)
    vals = idx.select("user_id", "g", F.col("value").alias("v"))
    prev = vals.select(
        "user_id", (F.col("g") + 1).alias("g"), F.col("v").alias("prev_value")
    )
    nxt = vals.select(
        "user_id", (F.col("g") - 1).alias("g"), F.col("v").alias("next_value")
    )
    return (
        idx.join(prev, ["user_id", "g"], "left")
        .join(nxt, ["user_id", "g"], "left")
        .select("user_id", "event_id", "value", "prev_value", "next_value")
    )


def win_ewma_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe EWMA (alpha=1/2, 8 terms — `win_ewma`'s exact
    semantics): explode each row into its 8 source offsets, equi-join
    the dense index once to fetch the lagged values, and refold with an
    ORDERED left-to-right `aggregate` over the j-sorted terms so the
    double additions replay the plain expression's association order
    bit for bit (weights are powers of two; each product is exact, so
    only addition order could diverge)."""
    from .llm_prep import EWMA_TERMS  # noqa: PLC0415 - avoid import cycle risk

    idx = _indexed_events(spark, sf_dir)
    pairs = idx.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        "g",
        F.explode(F.sequence(F.lit(0), F.lit(EWMA_TERMS - 1))).alias("j"),
    ).withColumn("src_g", F.col("g") - F.col("j"))
    src = idx.select(
        "user_id", F.col("g").alias("src_g"), F.col("value").alias("src_v")
    )
    terms = pairs.join(src, ["user_id", "src_g"], "left")
    arr = F.array_sort(F.collect_list(F.struct("j", "src_v")))
    num = F.aggregate(
        arr,
        F.lit(0.0),
        lambda acc, x: acc
        + F.coalesce(x["src_v"], F.lit(0.0)) * F.pow(F.lit(2.0), -x["j"]),
    )
    den = F.aggregate(
        arr,
        F.lit(0.0),
        lambda acc, x: acc
        + F.when(x["src_v"].isNotNull(), F.pow(F.lit(2.0), -x["j"])).otherwise(
            F.lit(0.0)
        ),
    )
    return (
        terms.groupBy("user_id", "event_id", "ts", "value")
        .agg(num.alias("_num"), den.alias("_den"))
        .select(
            "user_id",
            "event_id",
            "ts",
            "value",
            (F.col("_num") / F.col("_den")).alias("ewma"),
        )
    )


SPECS.append(
    QuerySpec(
        "win_lag_lead_sharded",
        win_lag_lead_sharded,
        WIN_LAG_LEAD_ORACLE,
    )
)


def _win_ewma_sharded_oracle() -> str:
    from .llm_prep import _ewma_oracle  # noqa: PLC0415

    return _ewma_oracle()


SPECS.append(
    QuerySpec(
        "win_ewma_sharded",
        win_ewma_sharded,
        _win_ewma_sharded_oracle(),
    )
)


def win_session_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe sessionization (5-minute gap — `win_session`'s
    exact semantics): gaps-and-islands re-expressed so no step windows
    over a whole user timeline. Composes the two sharded primitives:

    1. previous-event timestamp via the dense-index equi-join
       (`win_lag_lead_sharded`'s shape) → new-session flag,
    2. session id = running count of flags via the chunked prefix sum
       (`win_running_sum_sharded`'s shape — integer counts, exact),
    3. per-(user, session) hash aggregation.

    The 10x-volume skew rehearsal measured the native `session_window`
    at 1.68x on the 40%-hot fixture (its gap-merge state for one user
    is one task); here the largest window partition is one user-day
    and everything else is equi-joins + hash aggs."""
    idx = _indexed_events(spark, sf_dir).withColumn(
        "chunk", F.date_trunc("day", F.col("ts"))
    )
    prev = idx.select(
        "user_id", (F.col("g") + 1).alias("g"), F.col("ts").alias("prev_ts")
    )
    flagged = idx.join(prev, ["user_id", "g"], "left").withColumn(
        "new_session",
        # unix_micros, NOT cast("long"): the long cast truncates to
        # whole seconds, so a 300.5s gap compares as 300 and wrongly
        # merges — caught by the sf0.1-skew oracle (one session in
        # 60k off) since fixture timestamps carry sub-second parts.
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))
                > 5 * 60 * 1_000_000
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    chunk_tot = flagged.groupBy("user_id", "chunk").agg(
        F.sum("new_session").alias("n_flags")
    )
    w_off = (
        Window.partitionBy("user_id")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = chunk_tot.select(
        "user_id",
        "chunk",
        F.coalesce(F.sum("n_flags").over(w_off), F.lit(0)).alias("flag_off"),
    )
    w_in = (
        Window.partitionBy("user_id", "chunk")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = (
        flagged.withColumn("run_in_chunk", F.sum("new_session").over(w_in))
        .join(F.broadcast(offs), ["user_id", "chunk"])
        .withColumn("session_id", F.col("flag_off") + F.col("run_in_chunk"))
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 5 MINUTES")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "sum_value"
        )
    )


SPECS.append(
    QuerySpec(
        "win_session_sharded",
        win_session_sharded,
        WIN_SESSION_ORACLE,
    )
)
