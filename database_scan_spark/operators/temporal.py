"""Temporal joins — as-of and range joins, the classic operators
vanilla Spark SQL lacks (SURVEY §2.5 'absent' row names them
explicitly). Both are implemented as compositions of existing
DataFrame ops with linear cost — no inequality-join blowup — and
both are oracle-checked against DuckDB's native implementations
(ASOF JOIN / optimized range join), which is exactly the kind of
independent check a hand-rolled operator needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..spec import QuerySpec
from ._helpers import h32


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each event picks the latest order of its user with
    o_orderdate <= ts.

    Implementation is the scalable union+window trick: tag both
    streams, union them, sort within each key by (time, tag), and
    carry the most recent order attributes forward with
    last(ignorenulls) — ONE shuffle on the key, linear in rows,
    versus the naive inequality join's per-key cross product. Orders
    are first deduped to one per (custkey, orderdate) — max orderkey
    — because "the" as-of row must be unique for determinism
    (SURVEY §1.4 discipline).
    """
    w_dedup = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey")
    )
    orders_d = (
        load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("key"),
            F.col("o_orderdate").alias("t"),
            F.lit(0).alias("is_event"),
            "o_orderkey",
            "o_totalprice",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    events = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        "event_id",
        "value",
    )
    # order rows sort before event rows at equal time (asof uses <=)
    w = Window.partitionBy("key").orderBy(
        "t", "is_event", F.coalesce("event_id", F.lit(-1))
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged = orders_d.unionByName(events).select(
        "key",
        "t",
        "is_event",
        "event_id",
        "value",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
        F.last("o_totalprice", ignorenulls=True).over(w).alias("asof_totalprice"),
    )
    return (
        merged.filter((F.col("is_event") == 1) & F.col("asof_orderkey").isNotNull())
        .select(
            "event_id",
            F.col("key").alias("user_id"),
            F.col("t").alias("ts"),
            "value",
            "asof_orderkey",
            "asof_totalprice",
        )
    )


JOIN_ASOF_ORACLE = """
WITH orders_d AS (
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                               ORDER BY o_orderkey DESC) = 1
)
SELECT e.event_id, e.user_id, e.ts, e.value,
       o.o_orderkey AS asof_orderkey,
       o.o_totalprice AS asof_totalprice
FROM events e
ASOF JOIN orders_d o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
"""


def join_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) self-join: pairs of same-user events within
    60 seconds of each other.

    Implementation is the banded range join: bucket time into
    60-second bands, explode ONE side to its neighbor bands, equi-join
    on (user, band), then apply the exact |Δt| predicate. Candidates
    per pair are generated exactly once (the exploded side covers
    band±1; the plain side has one band), so no dedup pass is needed.
    Cost is linear in band occupancy instead of the quadratic per-key
    cross product a raw inequality join plans as. DuckDB's optimized
    inequality join is the oracle.
    """
    band_us = 60 * 1_000_000
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t_us")
    )
    a = ev.select(
        "user_id",
        F.col("event_id").alias("event_a"),
        F.col("t_us").alias("t_a"),
        F.explode(
            F.array(
                (F.floor(F.col("t_us") / band_us) - 1).cast("long"),
                F.floor(F.col("t_us") / band_us).cast("long"),
                (F.floor(F.col("t_us") / band_us) + 1).cast("long"),
            )
        ).alias("band"),
    )
    b = ev.select(
        "user_id",
        F.col("event_id").alias("event_b"),
        F.col("t_us").alias("t_b"),
        F.floor(F.col("t_us") / band_us).cast("long").alias("band"),
    )
    return (
        a.join(b, ["user_id", "band"])
        .filter(
            (F.col("event_a") < F.col("event_b"))
            & (F.abs(F.col("t_a") - F.col("t_b")) <= band_us)
        )
        .select(
            "user_id",
            "event_a",
            "event_b",
            (F.abs(F.col("t_a") - F.col("t_b")) / 1_000_000.0).alias("gap_seconds"),
        )
    )


JOIN_RANGE_EVENTS_ORACLE = """
SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
       abs(epoch_us(a.ts) - epoch_us(b.ts)) / 1000000.0 AS gap_seconds
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60 * 1000000
"""


SPECS = [
    QuerySpec(
        "join_asof",
        join_asof,
        JOIN_ASOF_ORACLE,
    ),
    QuerySpec(
        "join_range_events",
        join_range_events,
        JOIN_RANGE_EVENTS_ORACLE,
    ),
]


def _tagged_purchase_error_union(spark: SparkSession, sf_dir: str, purchase_tag: int, error_tag: int):
    """Shared scaffold for the directional as-of variants: purchases
    and errors of the same user united into one stream, tagged so the
    window ordering can place equal-time rows on the correct side of
    the inequality.

    Purchase dedup (one per (user, ts) — min event_id, required for a
    deterministic "the" as-of row) is folded into the SAME shuffle as
    the as-of windows: a row_number over (user_id, t, tag) nulls out
    duplicate purchases' payload instead of pre-deduping behind its
    own (user_id, ts) exchange. HashPartitioning(user_id) satisfies
    the subset-clustered distribution of every window here, so the
    whole directional as-of — dedup included — is ONE exchange plus
    re-sorts (asserted in tests/test_scale_posture.py)."""
    ev = load(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(purchase_tag).alias("tag"),
        F.col("event_id").alias("p_id"),
        F.col("value").alias("p_value"),
        F.lit(None).cast("long").alias("event_id"),
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(error_tag).alias("tag"),
        F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("double").alias("p_value"),
        "event_id",
    )
    merged = purch.unionByName(err)
    # duplicate purchases are consecutive in the per-user (t, tag, id)
    # order, so lag() detects them under the SAME partitioning the
    # as-of windows use — partitionBy(user_id), never (user_id, t):
    # HashPartitioning satisfies a clustered distribution only when its
    # expressions are a SUBSET of the clustering, so a finer-keyed
    # dedup window would force a second exchange.
    w_dup = Window.partitionBy("user_id").orderBy(
        "t", "tag", F.coalesce("event_id", F.col("p_id"))
    )
    same_slot = (F.lag("t").over(w_dup) == F.col("t")) & (
        F.lag("tag").over(w_dup) == F.col("tag")
    )
    keep = F.col("p_id").isNull() | ~F.coalesce(same_slot, F.lit(False))
    return merged.select(
        "user_id",
        "t",
        "tag",
        F.when(keep, F.col("p_id")).alias("p_id"),
        F.when(keep, F.col("p_value")).alias("p_value"),
        "event_id",
    )


def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (the `join_asof` backward twin, pandas
    merge_asof direction='forward'): each error event picks the
    EARLIEST same-user purchase with purchase.ts >= error.ts —
    time-to-next-action analysis. Same union+window trick, mirrored:
    one shuffle on the user key, `first(ignorenulls)` over the
    FOLLOWING frame; purchases sort after errors at equal time so the
    >= bound is inclusive. DuckDB's native forward ASOF JOIN
    (e.ts <= p.ts) is the oracle."""
    merged = _tagged_purchase_error_union(spark, sf_dir, purchase_tag=1, error_tag=0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "tag", F.coalesce("event_id", F.col("p_id")))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    out = merged.select(
        "user_id",
        "t",
        "tag",
        "event_id",
        F.first("p_id", ignorenulls=True).over(w).alias("next_purchase_id"),
        F.first("p_value", ignorenulls=True).over(w).alias("next_value"),
        F.first(F.when(F.col("p_id").isNotNull(), F.col("t")), ignorenulls=True)
        .over(w)
        .alias("next_t"),
    )
    return (
        out.filter((F.col("tag") == 0) & F.col("next_purchase_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("ts"),
            "next_purchase_id",
            "next_value",
            (F.unix_micros("next_t") - F.unix_micros("t")).alias("gap_us"),
        )
    )


JOIN_ASOF_FORWARD_ORACLE = """
WITH purch AS (
    SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1
), err AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
)
SELECT e.event_id, e.user_id, e.ts,
       p.event_id AS next_purchase_id,
       p.value AS next_value,
       epoch_us(p.ts) - epoch_us(e.ts) AS gap_us
FROM err e
ASOF JOIN purch p ON e.user_id = p.user_id AND e.ts <= p.ts
"""


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (pandas merge_asof direction='nearest'):
    each error event picks the same-user purchase with the smallest
    |Δt|; exact ties go to the EARLIER purchase (the backward side —
    documented, deterministic). ONE shuffle computes both directions:
    the union is sorted once per user and scanned with a
    last-preceding frame AND a first-following frame; the equal-time
    purchase sorts into the PRECEDING frame, so a zero-gap match is a
    backward match by construction. Oracle: DuckDB LEFT ASOF joins in
    both directions + the same tie rule."""
    merged = _tagged_purchase_error_union(spark, sf_dir, purchase_tag=0, error_tag=1)
    order = ("t", "tag", F.coalesce("event_id", F.col("p_id")))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    p_t = F.when(F.col("p_id").isNotNull(), F.col("t"))
    out = merged.select(
        "user_id",
        "t",
        "tag",
        "event_id",
        F.last("p_id", ignorenulls=True).over(w_prev).alias("prev_id"),
        F.last("p_value", ignorenulls=True).over(w_prev).alias("prev_value"),
        F.last(p_t, ignorenulls=True).over(w_prev).alias("prev_t"),
        F.first("p_id", ignorenulls=True).over(w_next).alias("next_id"),
        F.first("p_value", ignorenulls=True).over(w_next).alias("next_value"),
        F.first(p_t, ignorenulls=True).over(w_next).alias("next_t"),
    ).filter(F.col("tag") == 1)
    d_prev = F.unix_micros("t") - F.unix_micros("prev_t")
    d_next = F.unix_micros("next_t") - F.unix_micros("t")
    take_prev = F.col("next_id").isNull() | (
        F.col("prev_id").isNotNull() & (d_prev <= d_next)
    )
    return (
        out.filter(F.col("prev_id").isNotNull() | F.col("next_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("ts"),
            F.when(take_prev, F.col("prev_id")).otherwise(F.col("next_id")).alias(
                "nearest_purchase_id"
            ),
            F.when(take_prev, F.col("prev_value"))
            .otherwise(F.col("next_value"))
            .alias("nearest_value"),
            F.when(take_prev, -d_prev).otherwise(d_next).alias("delta_us"),
        )
    )


JOIN_ASOF_NEAREST_ORACLE = """
WITH purch AS (
    SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1
), err AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
), cand AS (
    SELECT e.event_id, e.user_id, e.ts,
           pb.event_id AS prev_id, pb.value AS prev_value, pb.ts AS prev_t,
           pf.event_id AS next_id, pf.value AS next_value, pf.ts AS next_t
    FROM err e
    ASOF LEFT JOIN purch pb ON e.user_id = pb.user_id AND e.ts >= pb.ts
    ASOF LEFT JOIN purch pf ON e.user_id = pf.user_id AND e.ts <= pf.ts
)
SELECT event_id, user_id, ts,
       CASE WHEN next_id IS NULL
                 OR (prev_id IS NOT NULL
                     AND epoch_us(ts) - epoch_us(prev_t)
                         <= epoch_us(next_t) - epoch_us(ts))
            THEN prev_id ELSE next_id END AS nearest_purchase_id,
       CASE WHEN next_id IS NULL
                 OR (prev_id IS NOT NULL
                     AND epoch_us(ts) - epoch_us(prev_t)
                         <= epoch_us(next_t) - epoch_us(ts))
            THEN prev_value ELSE next_value END AS nearest_value,
       CASE WHEN next_id IS NULL
                 OR (prev_id IS NOT NULL
                     AND epoch_us(ts) - epoch_us(prev_t)
                         <= epoch_us(next_t) - epoch_us(ts))
            THEN epoch_us(prev_t) - epoch_us(ts)
            ELSE epoch_us(next_t) - epoch_us(ts) END AS delta_us
FROM cand
WHERE prev_id IS NOT NULL OR next_id IS NOT NULL
"""

SPECS.extend(
    [
        QuerySpec(
            "join_asof_forward",
            join_asof_forward,
            JOIN_ASOF_FORWARD_ORACLE,
        ),
        QuerySpec(
            "join_asof_nearest",
            join_asof_nearest,
            JOIN_ASOF_NEAREST_ORACLE,
        ),
    ]
)


# ---------------------------------------------------------------------------
# join_asof_tolerance — as-of with a max-staleness bound (feature-store)
# ---------------------------------------------------------------------------

ASOF_TOL_US = 72 * 3600 * 1_000_000  # 72 hours


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a MAX-STALENESS bound — the feature-store
    point-in-time rule: each non-purchase event may use its user's
    latest preceding purchase only if that purchase is at most 72
    hours old, else the feature is NULL (serving a stale feature
    silently is the classic training/serving-skew bug). LEFT
    semantics: every lookup row survives, with the match nulled when
    absent or stale and the observed staleness kept for auditing.

    Same ONE-shuffle union+window plan as `join_asof` (tag, union,
    last(ignorenulls) over the key-time order) plus one carried
    column: the as-of ROW TIME, from which the tolerance predicate
    derives row-locally in exact integer microseconds — the bound
    costs nothing at any scale. Oracle: DuckDB's native ASOF LEFT
    JOIN with the same CASE guard — an independent formulation of
    both the match and the bound."""
    ev = load(spark, sf_dir, "events")
    w_dedup = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").alias("key"),
            F.col("ts").alias("t"),
            F.lit(0).alias("tag"),
            F.col("event_id").alias("p_id"),
            F.col("value").alias("p_value"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    lookups = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("double").alias("p_value"),
        "event_id",
    )
    w = Window.partitionBy("key").orderBy(
        "t", "tag", F.coalesce("event_id", F.col("p_id"))
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purch_t = F.when(F.col("tag") == 0, F.col("t"))
    merged = purch.unionByName(lookups).select(
        "key",
        "t",
        "tag",
        "event_id",
        F.last("p_id", ignorenulls=True).over(w).alias("raw_pid"),
        F.last("p_value", ignorenulls=True).over(w).alias("raw_pvalue"),
        F.last(purch_t, ignorenulls=True).over(w).alias("asof_t"),
    )
    staleness = F.unix_micros("t") - F.unix_micros("asof_t")
    fresh = staleness <= ASOF_TOL_US
    return merged.filter(F.col("tag") == 1).select(
        "event_id",
        F.col("key").alias("user_id"),
        F.col("t").alias("ts"),
        F.when(fresh, F.col("raw_pid")).alias("asof_purchase_id"),
        F.when(fresh, F.col("raw_pvalue")).alias("asof_value"),
        staleness.alias("staleness_us"),
        F.coalesce(fresh, F.lit(False)).alias("is_fresh"),
    )


JOIN_ASOF_TOLERANCE_ORACLE = f"""
WITH purch AS (
    SELECT user_id, ts, event_id AS p_id, value AS p_value
    FROM events WHERE event_type = 'purchase'
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
                               ORDER BY event_id DESC) = 1
),
lookups AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type != 'purchase'
)
SELECT e.event_id, e.user_id, e.ts,
       CASE WHEN epoch_us(e.ts) - epoch_us(p.ts) <= {ASOF_TOL_US}
            THEN p.p_id END AS asof_purchase_id,
       CASE WHEN epoch_us(e.ts) - epoch_us(p.ts) <= {ASOF_TOL_US}
            THEN p.p_value END AS asof_value,
       epoch_us(e.ts) - epoch_us(p.ts) AS staleness_us,
       COALESCE(epoch_us(e.ts) - epoch_us(p.ts) <= {ASOF_TOL_US}, FALSE)
         AS is_fresh
FROM lookups e
ASOF LEFT JOIN purch p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""

SPECS.append(
    QuerySpec(
        "join_asof_tolerance",
        join_asof_tolerance,
        JOIN_ASOF_TOLERANCE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# join_interval_overlap — banded interval-overlap self-join
# ---------------------------------------------------------------------------

_IV_BAND_US = 2 * 3600 * 1_000_000  # band edge == max duration -> <=2 bands
_IV_MAX_MIN = 120  # synthesized durations: 1..120 minutes


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-overlap self-join — the temporal-extent counterpart of
    the point-proximity `join_range_events`: each event carries a
    deterministic hash-synthesized duration (1..120 min; the fixture
    has no native extents), and the join finds same-user interval
    pairs that OVERLAP, with the exact overlap length.

    Banding for extents: with the band edge >= the max duration, an
    interval covers at most TWO bands; exploding BOTH sides to their
    covered bands and equi-joining on (user, band) generates every
    overlapping pair (overlap ⇒ some shared band) with at most 4
    duplicates, removed by one distinct. Cost stays linear in band
    occupancy — a raw `a.start <= b.end AND b.start <= a.end` join
    plans as the per-user cross product. DuckDB's optimized
    inequality join (IEJoin) is the oracle — an independent
    formulation of the same overlap set."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s_us"),
        (
            F.unix_micros("ts")
            + (h32(F.col("event_id").cast("string")) % _IV_MAX_MIN + 1)
            * 60_000_000
        ).alias("e_us"),
    )

    def banded(side: str):
        return ev.select(
            "user_id",
            F.col("event_id").alias(f"event_{side}"),
            F.col("s_us").alias(f"s_{side}"),
            F.col("e_us").alias(f"e_{side}"),
            F.explode(
                F.sequence(
                    F.floor(F.col("s_us") / _IV_BAND_US).cast("long"),
                    F.floor(F.col("e_us") / _IV_BAND_US).cast("long"),
                )
            ).alias("band"),
        )

    pairs = (
        banded("a")
        .join(banded("b"), ["user_id", "band"])
        .filter(F.col("event_a") < F.col("event_b"))
        .select("user_id", "event_a", "s_a", "e_a", "event_b", "s_b", "e_b")
        .distinct()
        .filter((F.col("s_a") <= F.col("e_b")) & (F.col("s_b") <= F.col("e_a")))
    )
    return pairs.select(
        "user_id",
        "event_a",
        "event_b",
        (
            F.least("e_a", "e_b") - F.greatest("s_a", "s_b")
        ).alias("overlap_us"),
    ).orderBy("user_id", "event_a", "event_b")


JOIN_INTERVAL_OVERLAP_ORACLE = f"""
WITH iv AS (
    SELECT user_id, event_id, epoch_us(ts) AS s_us,
           epoch_us(ts)
           + (('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
              % {_IV_MAX_MIN} + 1) * 60000000 AS e_us
    FROM events
)
SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
       least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) AS overlap_us
FROM iv a JOIN iv b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND a.s_us <= b.e_us AND b.s_us <= a.e_us
ORDER BY a.user_id, event_a, event_b
"""

SPECS.append(
    QuerySpec(
        "join_interval_overlap",
        join_interval_overlap,
        JOIN_INTERVAL_OVERLAP_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# Point-in-time multi-feature join (feature-store shape)
# ---------------------------------------------------------------------------


def join_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature join: every 'purchase' event (the
    label spine) is enriched with the LATEST strictly-earlier 'click'
    value, the latest strictly-earlier 'view' value, and the count of
    strictly-earlier 'error' events for the same user — the
    feature-store backfill shape (N feature streams, leakage-free).

    Scale posture: the naive plan is N as-of joins = N shuffles of
    the spine. Here ALL feature streams and the spine union into one
    stream tagged by kind, and a single window pass per user carries
    every feature forward — ONE shuffle total regardless of how many
    feature columns ride along (the generalization of ``join_asof``'s
    union+window trick to N features at once). Strictness (no
    same-timestamp leakage) is encoded in the sort key: spine rows
    sort BEFORE feature rows at equal ts (kind 0 < 1), so the
    running window cannot see a feature that arrives at the label's
    own timestamp.
    """
    ev = load(spark, sf_dir, "events")
    spine = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("double").alias("f_click"),
        F.lit(None).cast("double").alias("f_view"),
        F.lit(0).alias("is_err"),
    )
    feats = ev.filter(
        F.col("event_type").isin("click", "view", "error")
    ).select(
        "event_id",
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(1).alias("kind"),
        F.when(F.col("event_type") == "click", F.col("value")).alias("f_click"),
        F.when(F.col("event_type") == "view", F.col("value")).alias("f_view"),
        (F.col("event_type") == "error").cast("int").alias("is_err"),
    )
    w = Window.partitionBy("key").orderBy("t", "kind", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    merged = spine.unionByName(feats).select(
        "event_id",
        "key",
        "t",
        "kind",
        F.last("f_click", ignorenulls=True).over(w).alias("last_click_value"),
        F.last("f_view", ignorenulls=True).over(w).alias("last_view_value"),
        F.sum("is_err").over(w).cast("bigint").alias("n_errors_before"),
    )
    return merged.filter(F.col("kind") == 0).select(
        "event_id",
        F.col("key").alias("user_id"),
        F.col("t").alias("ts"),
        "last_click_value",
        "last_view_value",
        "n_errors_before",
    )


JOIN_PIT_FEATURES_ORACLE = """
WITH tagged AS (
    SELECT event_id, user_id AS key, ts AS t, 0 AS kind,
           NULL::DOUBLE AS f_click, NULL::DOUBLE AS f_view, 0 AS is_err
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id, user_id, ts, 1,
           CASE WHEN event_type = 'click' THEN value END,
           CASE WHEN event_type = 'view' THEN value END,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
    FROM events WHERE event_type IN ('click', 'view', 'error')
),
win AS (
    SELECT event_id, key, t, kind,
           last_value(f_click IGNORE NULLS) OVER w AS last_click_value,
           last_value(f_view IGNORE NULLS) OVER w AS last_view_value,
           SUM(is_err) OVER w AS n_err
    FROM tagged
    WINDOW w AS (PARTITION BY key ORDER BY t, kind, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, key AS user_id, t AS ts,
       last_click_value, last_view_value,
       CAST(n_err AS BIGINT) AS n_errors_before
FROM win WHERE kind = 0
"""

SPECS.append(
    QuerySpec(
        "join_pit_features",
        join_pit_features,
        JOIN_PIT_FEATURES_ORACLE,
    )
)
