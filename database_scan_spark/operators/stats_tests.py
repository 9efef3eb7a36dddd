"""Exact distributed statistical tests — the offline-experimentation
surface a data platform runs next to its pipelines (χ² independence,
rank correlation, ranking AP, changepoint localization).

Every statistic here follows the package's determinism discipline
(see ``quality.dq_correlation`` / ``dq_entropy_profile``): sufficient
statistics are exact BIGINT/DECIMAL aggregates (order-free), the one
floating step per statistic is a fixed IEEE op sequence evaluated
identically by both engines, and any term that must be summed in
floating point is rounded to 12 dp and summed as DECIMAL instead.

Scale shapes are chosen for 100 TB first: no global sorts for ranks
(rank statistics are derived from value-domain aggregates + window
over the tiny distinct-value relation), contingency tables are one
hash aggregation + broadcast marginals, and series statistics run on
calendar-bounded daily aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import persist
from ..spec import QuerySpec
from .graph import _trade_edges, _undirected_pairs

SPECS: list[QuerySpec] = []


# ---------------------------------------------------------------------------
# analytic_chi_square — χ² test of independence, segment × region
# ---------------------------------------------------------------------------

# Upper-tail critical value χ²₀.₉₅ with (5−1)(5−1)=16 dof.
_CHI2_CRIT_16 = "26.296"


def analytic_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence test: is customer market segment
    independent of geographic region? The categorical-association
    audit a feature platform runs before trusting a segmentation.

    Exactness: observed counts o, row totals r, col totals c and N
    are BIGINTs; each cell term is the algebraically cleared form
    ``(N·o − r·c)² / (N·r·c)`` — integer numerator/denominator
    promoted to double for ONE division, rounded to 12 dp, summed as
    DECIMAL (order-free). Zero-observed cells still contribute
    ``r·c/N`` — the full segment×region grid is generated from the
    two marginal relations, not from observed pairs.

    Scale: one hash aggregation over the fact (map-side combine),
    marginals derived from the 25-cell table itself; everything after
    the first groupBy is dimension-sized."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    obs = (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("n_regionkey").alias("reg"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rows = obs.groupBy("seg").agg(F.sum("o").alias("r"))
    cols = obs.groupBy("reg").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    grid = rows.crossJoin(F.broadcast(cols)).crossJoin(tot)
    cells = grid.join(obs, ["seg", "reg"], "left").select(
        "n",
        F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        "r",
        "c",
    )
    # DECIMAL(38,0) promotion (the graph_pagerank discipline): n·o and
    # n·r·c are BIGINT products that overflow past ~9.2e18 — a hard
    # ARITHMETIC_OVERFLOW under ANSI (the Spark 4 default) or a silent
    # wrap under non-ANSI, while DuckDB auto-promotes to HUGEINT; at
    # cluster scale (n ~ 1e10 customers) the unpromoted form dies or
    # diverges. The decimal products stay exact to 1e38.
    dn = F.col("n").cast("decimal(38,0)")
    do = F.col("o").cast("decimal(38,0)")
    dr = F.col("r").cast("decimal(38,0)")
    dc = F.col("c").cast("decimal(38,0)")
    terms = cells.select(
        "n",
        F.round(
            F.pow((dn * do - dr * dc).cast("double"), 2)
            / (dn * dr * dc).cast("double"),
            12,
        )
        .cast("decimal(24,12)")
        .alias("term"),
    )
    return terms.groupBy("n").agg(F.sum("term").alias("term_sum")).select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.lit(16).cast("int").alias("dof"),
        F.round(F.col("term_sum").cast("double"), 6).alias("chi2"),
        (F.col("term_sum") > F.lit(_CHI2_CRIT_16).cast("decimal(24,12)")).alias(
            "reject_independence"
        ),
    )


ANALYTIC_CHI_SQUARE_ORACLE = f"""
WITH obs AS (
    SELECT c_mktsegment AS seg, n_regionkey AS reg, COUNT(*) AS o
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2
),
rows_m AS (SELECT seg, SUM(o) AS r FROM obs GROUP BY seg),
cols_m AS (SELECT reg, SUM(o) AS c FROM obs GROUP BY reg),
tot AS (SELECT SUM(o) AS n FROM obs),
cells AS (
    SELECT t.n, COALESCE(ob.o, 0) AS o, rm.r, cm.c
    FROM rows_m rm CROSS JOIN cols_m cm CROSS JOIN tot t
    LEFT JOIN obs ob ON ob.seg = rm.seg AND ob.reg = cm.reg
),
terms AS (
    SELECT n,
           CAST(round(
               pow(CAST(n * o - r * c AS DOUBLE), 2)
               / CAST(n * r * c AS DOUBLE), 12) AS DECIMAL(24,12)) AS term
    FROM cells
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(16 AS INT) AS dof,
       round(CAST(SUM(term) AS DOUBLE), 6) AS chi2,
       SUM(term) > CAST({_CHI2_CRIT_16} AS DECIMAL(24,12)) AS reject_independence
FROM terms GROUP BY n
"""

SPECS.append(
    QuerySpec(
        "analytic_chi_square",
        analytic_chi_square,
        ANALYTIC_CHI_SQUARE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_spearman — rank correlation WITHOUT a global sort
# ---------------------------------------------------------------------------


def analytic_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between lineitem quantity and
    discount — the monotone-association check that is robust where
    ``dq_correlation``'s Pearson is not.

    The textbook formulation ranks every row (a global sort). Both
    variables here have tiny value domains (≤50 and ≤11 distinct), so
    tie-averaged ranks are instead derived from per-VALUE counts: for
    value v, ``avg_rank(v) = (#smaller) + (cnt(v)+1)/2``. Doubling
    removes the half: ``dr(v) = 2·#smaller + cnt(v) + 1`` is a BIGINT.
    Spearman ρ is then Pearson on the doubled ranks — the ×2 cancels.

    Distributed shape: ONE hash aggregation over the fact builds the
    joint (qty, disc) histogram; rank dimensions are windows over the
    ≤50-row value relations; all Σ moments are exact DECIMAL sums of
    BIGINT products weighted by the joint counts. The only float step
    is the final closed-form ρ from six exact scalars — bit-identical
    cross-engine. At 100 TB this never sorts the fact and shuffles
    only the ≤550-row joint histogram after map-side combine."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
    )
    joint = li.groupBy("q", "d").agg(F.count(F.lit(1)).alias("cnt"))

    def rank_dim(col: str) -> DataFrame:
        marg = joint.groupBy(col).agg(F.sum("cnt").alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return marg.select(
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1
            ).alias(f"dr_{col}"),
        )

    cell = (
        joint.join(F.broadcast(rank_dim("q")), "q")
        .join(F.broadcast(rank_dim("d")), "d")
        .select(
            F.col("cnt").cast("decimal(38,0)").alias("cnt"),
            F.col("dr_q").cast("decimal(38,0)").alias("x"),
            F.col("dr_d").cast("decimal(38,0)").alias("y"),
        )
    )
    m = cell.agg(
        F.sum("cnt").cast("double").alias("n"),
        F.sum(F.col("cnt") * F.col("x")).cast("double").alias("sx"),
        F.sum(F.col("cnt") * F.col("y")).cast("double").alias("sy"),
        F.sum(F.col("cnt") * F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("cnt") * F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("cnt") * F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("spearman_rho"),
    )


ANALYTIC_SPEARMAN_ORACLE = """
WITH joint AS (
    SELECT CAST(l_quantity AS BIGINT) AS q,
           CAST(round(l_discount * 100) AS BIGINT) AS d,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY 1, 2
),
rq AS (
    SELECT q,
           2 * COALESCE(SUM(c) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + c + 1 AS dr_q
    FROM (SELECT q, SUM(cnt) AS c FROM joint GROUP BY q)
),
rd AS (
    SELECT d,
           2 * COALESCE(SUM(c) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + c + 1 AS dr_d
    FROM (SELECT d, SUM(cnt) AS c FROM joint GROUP BY d)
),
cell AS (
    SELECT CAST(cnt AS DECIMAL(38,0)) AS cnt,
           CAST(dr_q AS DECIMAL(38,0)) AS x,
           CAST(dr_d AS DECIMAL(38,0)) AS y
    FROM joint JOIN rq USING (q) JOIN rd USING (d)
),
m AS (
    SELECT CAST(SUM(cnt) AS DOUBLE) AS n,
           CAST(SUM(cnt * x) AS DOUBLE) AS sx,
           CAST(SUM(cnt * y) AS DOUBLE) AS sy,
           CAST(SUM(cnt * x * y) AS DOUBLE) AS sxy,
           CAST(SUM(cnt * x * x) AS DOUBLE) AS sxx,
           CAST(SUM(cnt * y * y) AS DOUBLE) AS syy
    FROM cell
)
SELECT CAST(n AS BIGINT) AS n_rows,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
           AS spearman_rho
FROM m
"""

SPECS.append(
    QuerySpec(
        "analytic_spearman",
        analytic_spearman,
        ANALYTIC_SPEARMAN_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_avg_precision — PR-curve area from threshold aggregates
# ---------------------------------------------------------------------------


def analytic_avg_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve, step
    interpolation) of the event value as a purchase classifier — the
    imbalanced-label companion of ``analytic_auc``.

    Uses the threshold form ``AP = Σ_k (R_k − R_{k−1}) · P_k`` over
    DISTINCT score levels, so the fact is never row-ranked: one hash
    aggregation builds the per-score (positives, total) histogram,
    cumulative TP/cnt come from a window over the distinct-score
    relation (domain-sized — score is cents, bounded), and each
    term ``(ΔTP/n_pos)·(TP/cum_cnt)`` is one double expression from
    exact BIGINTs, rounded to 12 dp and summed as DECIMAL
    (order-free). Ties share a threshold by construction — the same
    convention as scikit-learn's ``average_precision_score``."""
    ev = load(spark, sf_dir, "events")
    per_score = (
        ev.select(
            (F.col("event_type") == "purchase").cast("bigint").alias("y"),
            F.round(F.col("value") * 100).cast("bigint").alias("s"),
        )
        .groupBy("s")
        .agg(F.sum("y").alias("pos"), F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_score.select(
        "pos",
        F.sum("pos").over(w).alias("tp"),
        F.sum("cnt").over(w).alias("cum_cnt"),
    )
    tot = cum.agg(F.max("tp").alias("n_pos"), F.max("cum_cnt").alias("n_rows"))
    terms = cum.crossJoin(tot).select(
        "n_pos",
        "n_rows",
        F.round(
            (F.col("pos").cast("double") / F.col("n_pos"))
            * (F.col("tp").cast("double") / F.col("cum_cnt")),
            12,
        )
        .cast("decimal(24,12)")
        .alias("term"),
    )
    return terms.groupBy("n_pos", "n_rows").agg(F.sum("term").alias("ap_sum")).select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        (F.col("n_rows") - F.col("n_pos")).cast("bigint").alias("n_neg"),
        F.round(F.col("ap_sum").cast("double"), 6).alias("avg_precision"),
    )


ANALYTIC_AVG_PRECISION_ORACLE = """
WITH per_score AS (
    SELECT CAST(round(value * 100) AS BIGINT) AS s,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos,
           COUNT(*) AS cnt
    FROM events GROUP BY 1
),
cum AS (
    SELECT pos,
           SUM(pos) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
           SUM(cnt) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
    FROM per_score
),
tot AS (SELECT MAX(tp) AS n_pos, MAX(cum_cnt) AS n_rows FROM cum),
terms AS (
    SELECT n_pos, n_rows,
           CAST(round((CAST(pos AS DOUBLE) / n_pos)
                      * (CAST(tp AS DOUBLE) / cum_cnt), 12)
                AS DECIMAL(24,12)) AS term
    FROM cum CROSS JOIN tot
)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_rows - n_pos AS BIGINT) AS n_neg,
       round(CAST(SUM(term) AS DOUBLE), 6) AS avg_precision
FROM terms GROUP BY n_pos, n_rows
"""

SPECS.append(
    QuerySpec(
        "analytic_avg_precision",
        analytic_avg_precision,
        ANALYTIC_AVG_PRECISION_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_changepoint — exact single-changepoint localization
# ---------------------------------------------------------------------------

_CP_TOP = 3


def analytic_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint localization on the daily purchase-count
    series: the split maximizing the between-class sum-of-squares
    gain ``S₁²/n₁ + S₂²/n₂ − S²/n`` (binary-segmentation step, the
    building block of PELT/BinSeg). Reports the top-3 candidate
    split days so the margin over runners-up is visible.

    Determinism: prefix sums S₁ and counts are exact BIGINTs from a
    window over the calendar-bounded daily relation; the gain is one
    fixed double expression per split — bit-identical cross-engine —
    and candidates are ordered by (gain DESC, day) so even exact
    gain ties break deterministically. Scale: the fact collapses to
    ≤ one row per day in a single hash aggregation before any window
    touches it."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = daily.select(
        "day",
        F.sum("x").over(w).alias("s1"),
        F.row_number().over(Window.orderBy("day")).alias("n1"),
    )
    tot = daily.agg(
        F.sum("x").alias("s_tot"), F.count(F.lit(1)).alias("n_tot")
    )
    scored = (
        pre.crossJoin(tot)
        .filter(F.col("n1") < F.col("n_tot"))
        .select(
            "day",
            "n1",
            (F.col("n_tot") - F.col("n1")).alias("n2"),
            (
                F.col("s1").cast("double") * F.col("s1") / F.col("n1")
                + (F.col("s_tot") - F.col("s1")).cast("double")
                * (F.col("s_tot") - F.col("s1"))
                / (F.col("n_tot") - F.col("n1"))
                - F.col("s_tot").cast("double") * F.col("s_tot") / F.col("n_tot")
            ).alias("gain"),
            (F.col("s1").cast("double") / F.col("n1")).alias("mean_before"),
            (
                (F.col("s_tot") - F.col("s1")).cast("double")
                / (F.col("n_tot") - F.col("n1"))
            ).alias("mean_after"),
        )
    )
    ranked = scored.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("gain").desc(), F.col("day")))
    ).filter(F.col("rk") <= _CP_TOP)
    return ranked.select(
        "rk",
        F.date_format("day", "yyyy-MM-dd").alias("split_day"),
        F.col("n1").cast("bigint").alias("days_before"),
        F.col("n2").cast("bigint").alias("days_after"),
        F.round("gain", 6).alias("gain"),
        F.round("mean_before", 6).alias("mean_before"),
        F.round("mean_after", 6).alias("mean_after"),
    )


ANALYTIC_CHANGEPOINT_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
pre AS (
    SELECT day,
           SUM(x) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
           row_number() OVER (ORDER BY day) AS n1
    FROM daily
),
tot AS (SELECT SUM(x) AS s_tot, COUNT(*) AS n_tot FROM daily),
scored AS (
    SELECT day, n1, n_tot - n1 AS n2,
           CAST(s1 AS DOUBLE) * s1 / n1
           + CAST(s_tot - s1 AS DOUBLE) * (s_tot - s1) / (n_tot - n1)
           - CAST(s_tot AS DOUBLE) * s_tot / n_tot AS gain,
           CAST(s1 AS DOUBLE) / n1 AS mean_before,
           CAST(s_tot - s1 AS DOUBLE) / (n_tot - n1) AS mean_after
    FROM pre CROSS JOIN tot
    WHERE n1 < n_tot
),
ranked AS (
    SELECT row_number() OVER (ORDER BY gain DESC, day) AS rk, *
    FROM scored
)
SELECT rk, strftime(day, '%Y-%m-%d') AS split_day,
       CAST(n1 AS BIGINT) AS days_before,
       CAST(n2 AS BIGINT) AS days_after,
       round(gain, 6) AS gain,
       round(mean_before, 6) AS mean_before,
       round(mean_after, 6) AS mean_after
FROM ranked WHERE rk <= {_CP_TOP}
"""

SPECS.append(
    QuerySpec(
        "analytic_changepoint",
        analytic_changepoint,
        ANALYTIC_CHANGEPOINT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# graph_kcore — iterative k-core peel on the part–supplier graph
# ---------------------------------------------------------------------------

_KCORE_K = 8
_KCORE_ROUNDS = 4


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel (k=8) of the bipartite part–supplier fulfilment
    graph: repeatedly drop nodes with degree < k; what survives is
    the densely cross-sourced core a supply-chain (or, on a doc-pair
    graph, a near-dup cluster) audit cares about. Reports one row
    per peel round — parts/suppliers/edges alive — so convergence is
    visible in the result itself.

    Bounded SYNCHRONOUS peel (4 unrolled rounds), the package's
    fixpoint discipline (cf. graph_pagerank): each round is two hash
    aggregations (per-side degrees) and two left-semi joins on the
    surviving-node sets; every count is integer-exact. The semi-join
    strategy is left to AQE (r5 — previously a FORCED broadcast: the
    survivor set of a fact-derived graph is unbounded, and a forced
    broadcast of 1e9 surviving parts is an OOM cliff; AQE broadcasts
    when the runtime size allows and degrades to a shuffled semi-join
    when it doesn't). The edge list is dimension-×-dimension bounded
    (distinct part–supplier pairs), built from the fact with ONE
    distinct aggregation; at 100 TB each round's shuffle carries only
    the deduplicated edge relation, and a driver-loop fixpoint with
    persist() per round replaces unrolling (same per-round plan)."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    )
    stats = []
    cur = li.distinct()
    for rnd in range(1, _KCORE_ROUNDS + 1):
        # (b) scans 1 -> 6 without it; the last round's survivors feed
        # only their own stats, so they are not cached
        cur = persist(cur)
        deg_p = cur.groupBy("p").agg(F.count(F.lit(1)).alias("dp"))
        deg_s = cur.groupBy("s").agg(F.count(F.lit(1)).alias("ds"))
        keep_p = deg_p.filter(F.col("dp") >= _KCORE_K).select("p")
        keep_s = deg_s.filter(F.col("ds") >= _KCORE_K).select("s")
        cur = cur.join(keep_p, "p", "left_semi").join(keep_s, "s", "left_semi")
        stats.append(
            cur.agg(
                F.lit(rnd).alias("round"),
                F.countDistinct("p").alias("parts_alive"),
                F.countDistinct("s").alias("supps_alive"),
                F.count(F.lit(1)).alias("edges_alive"),
            )
        )
    out = stats[0]
    for s_df in stats[1:]:
        out = out.unionByName(s_df)
    return out.select(
        F.col("round").cast("int").alias("round"),
        F.col("parts_alive").cast("bigint").alias("parts_alive"),
        F.col("supps_alive").cast("bigint").alias("supps_alive"),
        F.col("edges_alive").cast("bigint").alias("edges_alive"),
    ).orderBy("round")


def _kcore_oracle() -> str:
    k, parts = _KCORE_K, []
    ctes = [
        "e0 AS MATERIALIZED (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem)"
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        prev = f"e{i - 1}"
        ctes.append(
            f"""e{i} AS MATERIALIZED (
    SELECT p, s FROM {prev}
    WHERE p IN (SELECT p FROM {prev} GROUP BY p HAVING COUNT(*) >= {k})
      AND s IN (SELECT s FROM {prev} GROUP BY s HAVING COUNT(*) >= {k})
)"""
        )
        parts.append(
            f"SELECT CAST({i} AS INT) AS round,"
            f" CAST(COUNT(DISTINCT p) AS BIGINT) AS parts_alive,"
            f" CAST(COUNT(DISTINCT s) AS BIGINT) AS supps_alive,"
            f" CAST(COUNT(*) AS BIGINT) AS edges_alive FROM e{i}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(parts)
        + "\nORDER BY round"
    )


SPECS.append(
    QuerySpec(
        "graph_kcore",
        graph_kcore,
        _kcore_oracle(),
    )
)


# ---------------------------------------------------------------------------
# graph_modularity — exact partition-quality score for communities
# ---------------------------------------------------------------------------


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed weighted modularity of the REGION partition of the
    nation trade graph — the standard "are these communities real?"
    score (Newman 2004) for any clustering the engine produces (LPA,
    CC, k-core). Per community c:
    ``Q_c = (m·e_c − in_c·out_c) / m²`` where e_c is intra-community
    weight, in/out_c the community's weighted degrees, m total weight
    — the numerator is computed DECIMAL-exact and emitted as BIGINT
    (|m·e_c| < 2⁶³ holds through ~3·10⁹ total edge weight), so the
    only float step is one division per row, bit-identical cross-engine.

    Shape: the trade-edge aggregation is the same fact-collapse as
    graph_pagerank (broadcast dimension hops, one groupBy); community
    terms are three dimension-sized aggregations joined on the ≤5-row
    region relation."""
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    # (b) scans 6 -> 8 without it
    edges = persist(
        _trade_edges(spark, sf_dir)
        .join(
            nat.select(F.col("n_nationkey").alias("src"), F.col("n_regionkey").alias("src_reg")),
            "src",
        )
        .join(
            nat.select(F.col("n_nationkey").alias("dst"), F.col("n_regionkey").alias("dst_reg")),
            "dst",
        )
    )
    m = edges.agg(F.sum("w").alias("m"))
    intra = (
        edges.filter(F.col("src_reg") == F.col("dst_reg"))
        .groupBy(F.col("src_reg").alias("reg"))
        .agg(F.sum("w").alias("e_c"))
    )
    outdeg = edges.groupBy(F.col("src_reg").alias("reg")).agg(
        F.sum("w").alias("out_c")
    )
    indeg = edges.groupBy(F.col("dst_reg").alias("reg")).agg(F.sum("w").alias("in_c"))
    reg = load(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("reg"), F.col("r_name").alias("region")
    )
    per = (
        reg.join(F.broadcast(intra), "reg", "left")
        .join(F.broadcast(outdeg), "reg", "left")
        .join(F.broadcast(indeg), "reg", "left")
        .crossJoin(m)
        .select(
            "region",
            F.coalesce("e_c", F.lit(0)).cast("bigint").alias("intra_w"),
            F.coalesce("in_c", F.lit(0)).cast("bigint").alias("in_w"),
            F.coalesce("out_c", F.lit(0)).cast("bigint").alias("out_w"),
            F.col("m").cast("bigint").alias("total_w"),
            (
                F.col("m").cast("decimal(18,0)")
                * F.coalesce("e_c", F.lit(0)).cast("decimal(18,0)")
                - F.coalesce("in_c", F.lit(0)).cast("decimal(18,0)")
                * F.coalesce("out_c", F.lit(0)).cast("decimal(18,0)")
            ).cast("bigint").alias("q_num"),
        )
        .select(
            "region",
            "intra_w",
            "in_w",
            "out_w",
            "total_w",
            "q_num",
            F.round(
                F.col("q_num").cast("double")
                / (F.col("total_w").cast("double") * F.col("total_w")),
                9,
            ).alias("q_term"),
        )
    )
    return per.orderBy("region")


GRAPH_MODULARITY_ORACLE = """
WITH edges AS MATERIALIZED (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
tagged AS MATERIALIZED (
    SELECT e.src, e.dst, e.w, ns.n_regionkey AS src_reg, nd.n_regionkey AS dst_reg
    FROM edges e
    JOIN nation ns ON e.src = ns.n_nationkey
    JOIN nation nd ON e.dst = nd.n_nationkey
),
m AS (SELECT SUM(w) AS m FROM tagged),
intra AS (SELECT src_reg AS reg, SUM(w) AS e_c FROM tagged
          WHERE src_reg = dst_reg GROUP BY 1),
outdeg AS (SELECT src_reg AS reg, SUM(w) AS out_c FROM tagged GROUP BY 1),
indeg AS (SELECT dst_reg AS reg, SUM(w) AS in_c FROM tagged GROUP BY 1),
per AS (
    SELECT r.r_name AS region,
           CAST(COALESCE(i.e_c, 0) AS BIGINT) AS intra_w,
           CAST(COALESCE(ind.in_c, 0) AS BIGINT) AS in_w,
           CAST(COALESCE(od.out_c, 0) AS BIGINT) AS out_w,
           CAST(m.m AS BIGINT) AS total_w,
           CAST(CAST(m.m AS DECIMAL(18,0)) * CAST(COALESCE(i.e_c, 0) AS DECIMAL(18,0))
           - CAST(COALESCE(ind.in_c, 0) AS DECIMAL(18,0))
             * CAST(COALESCE(od.out_c, 0) AS DECIMAL(18,0)) AS BIGINT) AS q_num
    FROM region r
    LEFT JOIN intra i ON r.r_regionkey = i.reg
    LEFT JOIN outdeg od ON r.r_regionkey = od.reg
    LEFT JOIN indeg ind ON r.r_regionkey = ind.reg
    CROSS JOIN m
)
SELECT region, intra_w, in_w, out_w, total_w, q_num,
       round(CAST(q_num AS DOUBLE)
             / (CAST(total_w AS DOUBLE) * total_w), 9) AS q_term
FROM per ORDER BY region
"""

SPECS.append(
    QuerySpec(
        "graph_modularity",
        graph_modularity,
        GRAPH_MODULARITY_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_kendall_tau — exact τ-b from the joint histogram
# ---------------------------------------------------------------------------


def analytic_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall τ-b between lineitem quantity and discount — the
    concordance companion of ``analytic_spearman``. The naive form
    compares all O(N²) row pairs; here concordant/discordant mass
    comes from PAIRS OF HISTOGRAM CELLS: with the joint (qty, disc)
    count table (≤ 550 rows), a pair of cells (i, j) contributes
    ``cnt_i·cnt_j`` concordant pairs if ``(q_i−q_j)(d_i−d_j) > 0``
    and discordant if ``< 0``. Tie corrections n₁/n₂ come from the
    marginals. Everything is integer-exact in DECIMAL (row-pair
    counts overflow BIGINT at ~4·10⁹ rows); the one float step is
    the final ``τ_b = (nc−nd)/√((n₀−n₁)(n₀−n₂))``.

    Shape: ONE fact aggregation builds the histogram; the cell-pair
    product is a broadcast nested-loop over the tiny histogram —
    bounded by the value-domain product, independent of N."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
    )
    # (b) scans 1 -> 2 without it
    joint = persist(li.groupBy("q", "d").agg(F.count(F.lit(1)).alias("cnt")))
    a = joint.select(
        F.col("q").alias("qa"), F.col("d").alias("da"), F.col("cnt").alias("ca")
    )
    b = joint.select(
        F.col("q").alias("qb"), F.col("d").alias("db"), F.col("cnt").alias("cb")
    )
    sign = (F.col("qa") - F.col("qb")) * (F.col("da") - F.col("db"))
    pair_mass = (F.col("ca").cast("decimal(38,0)") * F.col("cb")).alias("m")
    pairs = a.join(F.broadcast(b), sign != 0).select(
        (sign > 0).alias("conc"), pair_mass
    )
    cd = pairs.groupBy().agg(
        (F.sum(F.when(F.col("conc"), F.col("m")).otherwise(F.lit(0))) / 2).alias(
            "nc2"
        ),
        (F.sum(F.when(~F.col("conc"), F.col("m")).otherwise(F.lit(0))) / 2).alias(
            "nd2"
        ),
    )

    def tie_mass(col: str) -> DataFrame:
        return (
            joint.groupBy(col)
            .agg(F.sum("cnt").alias("t"))
            .agg(
                F.sum(
                    F.col("t").cast("decimal(38,0)") * (F.col("t") - 1) / 2
                ).alias(f"n_{col}")
            )
        )

    n_tot = joint.agg(
        (
            F.sum("cnt").cast("decimal(38,0)")
            * (F.sum("cnt").cast("decimal(38,0)") - 1)
            / 2
        ).alias("n0"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
    )
    out = (
        cd.crossJoin(tie_mass("q"))
        .crossJoin(tie_mass("d"))
        .crossJoin(n_tot)
    )
    return out.select(
        "n_rows",
        F.col("nc2").cast("double").cast("bigint").alias("concordant"),
        F.col("nd2").cast("double").cast("bigint").alias("discordant"),
        F.round(
            (F.col("nc2").cast("double") - F.col("nd2").cast("double"))
            / F.sqrt(
                (F.col("n0").cast("double") - F.col("n_q").cast("double"))
                * (F.col("n0").cast("double") - F.col("n_d").cast("double"))
            ),
            6,
        ).alias("tau_b"),
    )


ANALYTIC_KENDALL_TAU_ORACLE = """
WITH joint AS MATERIALIZED (
    SELECT CAST(l_quantity AS BIGINT) AS q,
           CAST(round(l_discount * 100) AS BIGINT) AS d,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY 1, 2
),
pairs AS (
    SELECT (a.q - b.q) * (a.d - b.d) > 0 AS conc,
           CAST(a.cnt AS DECIMAL(38,0)) * b.cnt AS m
    FROM joint a JOIN joint b ON (a.q - b.q) * (a.d - b.d) <> 0
),
cd AS (
    SELECT SUM(CASE WHEN conc THEN m ELSE 0 END) / 2 AS nc2,
           SUM(CASE WHEN NOT conc THEN m ELSE 0 END) / 2 AS nd2
    FROM pairs
),
tq AS (SELECT SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) / 2) AS n_q
       FROM (SELECT SUM(cnt) AS t FROM joint GROUP BY q)),
td AS (SELECT SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) / 2) AS n_d
       FROM (SELECT SUM(cnt) AS t FROM joint GROUP BY d)),
nt AS (SELECT CAST(SUM(cnt) AS DECIMAL(38,0))
              * (CAST(SUM(cnt) AS DECIMAL(38,0)) - 1) / 2 AS n0,
              CAST(SUM(cnt) AS BIGINT) AS n_rows
       FROM joint)
SELECT n_rows,
       CAST(CAST(nc2 AS DOUBLE) AS BIGINT) AS concordant,
       CAST(CAST(nd2 AS DOUBLE) AS BIGINT) AS discordant,
       round((CAST(nc2 AS DOUBLE) - CAST(nd2 AS DOUBLE))
             / sqrt((CAST(n0 AS DOUBLE) - CAST(n_q AS DOUBLE))
                    * (CAST(n0 AS DOUBLE) - CAST(n_d AS DOUBLE))), 6) AS tau_b
FROM cd CROSS JOIN tq CROSS JOIN td CROSS JOIN nt
"""

SPECS.append(
    QuerySpec(
        "analytic_kendall_tau",
        analytic_kendall_tau,
        ANALYTIC_KENDALL_TAU_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_mannwhitney — all-pairs two-sample rank test
# ---------------------------------------------------------------------------


def analytic_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U test between the value
    distributions of every pair of event types — the nonparametric
    "did the distribution shift?" battery (the test behind
    ``analytic_auc``'s statistic, here with the normal approximation
    and a 5% two-sided verdict per pair).

    No global sort: per-(pair, value) counts come from ONE fact
    aggregation joined to the broadcast 10-row pair relation;
    doubled rank sums ``2R_a = Σ cnt_a·(2·cum_before + tot + 1)``
    stay BIGINT-exact under a window over the per-pair value domain;
    the tie term ``Σ(t³−t)`` is DECIMAL-exact. The z-score is one
    fixed double expression from those exact scalars; both engines
    compare |z| against 1.96 on the rounded value."""
    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"),
        F.round(F.col("value") * 100).cast("bigint").alias("s"),
    )
    counts = ev.groupBy("t", "s").agg(F.count(F.lit(1)).alias("cnt"))
    types = counts.select("t").distinct()
    pairs = (
        types.select(F.col("t").alias("ta"))
        .join(types.select(F.col("t").alias("tb")), F.col("ta") < F.col("tb"))
    )
    pc = counts.join(
        F.broadcast(pairs), (F.col("t") == F.col("ta")) | (F.col("t") == F.col("tb"))
    )
    per_s = pc.groupBy("ta", "tb", "s").agg(
        F.sum(F.when(F.col("t") == F.col("ta"), F.col("cnt")).otherwise(0)).alias(
            "ca"
        ),
        F.sum("cnt").alias("tot"),
    )
    w = Window.partitionBy("ta", "tb").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = per_s.select(
        "ta",
        "tb",
        "ca",
        "tot",
        F.coalesce(F.sum("tot").over(w), F.lit(0)).alias("cum_before"),
    )
    agg = ranked.groupBy("ta", "tb").agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        (F.sum("tot") - F.sum("ca")).cast("bigint").alias("n_b"),
        F.sum(
            F.col("ca") * (2 * F.col("cum_before") + F.col("tot") + 1)
        )
        .cast("bigint")
        .alias("r2a"),
        F.sum(
            F.col("tot").cast("decimal(38,0)") * F.col("tot") * F.col("tot")
            - F.col("tot")
        )
        .cast("double")
        .alias("tie_term"),
    )
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    u = (
        F.col("r2a").cast("double") / 2.0
        - F.col("n_a").cast("double") * (F.col("n_a") + 1) / 2.0
    )
    mu = F.col("n_a").cast("double") * F.col("n_b") / 2.0
    sigma2 = (
        F.col("n_a").cast("double")
        * F.col("n_b")
        / 12.0
        * ((n + 1) - F.col("tie_term") / (n * (n - 1)))
    )
    z = (u - mu) / F.sqrt(sigma2)
    return agg.select(
        "ta",
        "tb",
        "n_a",
        "n_b",
        F.round(u, 6).alias("u_stat"),
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > 1.96).alias("reject_5pct"),
    ).orderBy("ta", "tb")


ANALYTIC_MANNWHITNEY_ORACLE = """
WITH ev AS (
    SELECT event_type AS t, CAST(round(value * 100) AS BIGINT) AS s FROM events
),
counts AS (SELECT t, s, COUNT(*) AS cnt FROM ev GROUP BY t, s),
types AS (SELECT DISTINCT t FROM counts),
pairs AS (
    SELECT a.t AS ta, b.t AS tb FROM types a JOIN types b ON a.t < b.t
),
pc AS (
    SELECT p.ta, p.tb, c.t, c.s, c.cnt
    FROM counts c JOIN pairs p ON c.t = p.ta OR c.t = p.tb
),
per_s AS (
    SELECT ta, tb, s,
           SUM(CASE WHEN t = ta THEN cnt ELSE 0 END) AS ca,
           SUM(cnt) AS tot
    FROM pc GROUP BY ta, tb, s
),
ranked AS (
    SELECT ta, tb, ca, tot,
           COALESCE(SUM(tot) OVER (PARTITION BY ta, tb ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
    FROM per_s
),
agg AS (
    SELECT ta, tb,
           CAST(SUM(ca) AS BIGINT) AS n_a,
           CAST(SUM(tot) - SUM(ca) AS BIGINT) AS n_b,
           CAST(SUM(ca * (2 * cum_before + tot + 1)) AS BIGINT) AS r2a,
           CAST(SUM(CAST(tot AS DECIMAL(38,0)) * tot * tot - tot) AS DOUBLE)
               AS tie_term
    FROM ranked GROUP BY ta, tb
)
SELECT ta, tb, n_a, n_b,
       round(CAST(r2a AS DOUBLE) / 2.0
             - CAST(n_a AS DOUBLE) * (n_a + 1) / 2.0, 6) AS u_stat,
       round((CAST(r2a AS DOUBLE) / 2.0
              - CAST(n_a AS DOUBLE) * (n_a + 1) / 2.0
              - CAST(n_a AS DOUBLE) * n_b / 2.0)
             / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                    * ((CAST(n_a + n_b AS DOUBLE) + 1)
                       - tie_term / (CAST(n_a + n_b AS DOUBLE)
                                     * (CAST(n_a + n_b AS DOUBLE) - 1)))), 6)
           AS z,
       abs(round((CAST(r2a AS DOUBLE) / 2.0
              - CAST(n_a AS DOUBLE) * (n_a + 1) / 2.0
              - CAST(n_a AS DOUBLE) * n_b / 2.0)
             / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                    * ((CAST(n_a + n_b AS DOUBLE) + 1)
                       - tie_term / (CAST(n_a + n_b AS DOUBLE)
                                     * (CAST(n_a + n_b AS DOUBLE) - 1)))), 6))
           > 1.96 AS reject_5pct
FROM agg ORDER BY ta, tb
"""

SPECS.append(
    QuerySpec(
        "analytic_mannwhitney",
        analytic_mannwhitney,
        ANALYTIC_MANNWHITNEY_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_power_analysis — A/B sample-size from exact moments
# ---------------------------------------------------------------------------

_PW_Z_ALPHA = "1.959964"  # two-sided 5%
_PW_Z_BETA = "0.841621"  # 80% power
_PW_MDE_PCT = 5  # minimum detectable effect: 5% of baseline mean


def analytic_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis: the per-arm sample size needed to
    detect a 5% lift in mean purchase value at α=5% (two-sided) with
    80% power — ``n = 2(z_{α/2}+z_β)²σ²/δ²`` — the planning step
    before ``analytic_ab_test`` reads results. Variance comes from
    exact DECIMAL power sums (cents), the z quantiles are shared
    6-dp literals, and the final expression is one fixed double
    sequence, so the sizing is bit-identical cross-engine. One
    map-side aggregate over the fact; output is a single planning
    row."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cents = F.round(F.col("value") * 100).cast("decimal(38,0)")
    m = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum(cents).cast("double").alias("s1"),
        F.sum(cents * cents).cast("double").alias("s2"),
    )
    n = F.col("n_obs").cast("double")
    mean = F.col("s1") / n
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1)
    delta = mean * _PW_MDE_PCT / 100
    zsum = F.lit(float(_PW_Z_ALPHA)) + F.lit(float(_PW_Z_BETA))
    n_arm = F.ceil(F.round(2 * zsum * zsum * var / (delta * delta), 6))
    return m.select(
        "n_obs",
        F.round(mean, 6).alias("mean_cents"),
        F.round(var, 6).alias("var_cents"),
        F.round(delta, 6).alias("mde_cents"),
        n_arm.cast("bigint").alias("n_per_arm"),
    )


ANALYTIC_POWER_ANALYSIS_ORACLE = f"""
WITH m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(CAST(round(value * 100) AS DECIMAL(38,0))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(round(value * 100) AS DECIMAL(38,0))
                    * CAST(round(value * 100) AS DECIMAL(38,0))) AS DOUBLE) AS s2
    FROM events WHERE event_type = 'purchase'
)
SELECT n_obs,
       round(s1 / n_obs, 6) AS mean_cents,
       round((s2 - s1 * s1 / n_obs) / (n_obs - 1), 6) AS var_cents,
       round((s1 / n_obs) * {_PW_MDE_PCT} / 100, 6) AS mde_cents,
       CAST(ceil(round(2 * ({_PW_Z_ALPHA} + {_PW_Z_BETA})
                         * ({_PW_Z_ALPHA} + {_PW_Z_BETA})
                         * ((s2 - s1 * s1 / n_obs) / (n_obs - 1))
                       / (((s1 / n_obs) * {_PW_MDE_PCT} / 100)
                          * ((s1 / n_obs) * {_PW_MDE_PCT} / 100)), 6))
            AS BIGINT) AS n_per_arm
FROM m
"""

SPECS.append(
    QuerySpec(
        "analytic_power_analysis",
        analytic_power_analysis,
        ANALYTIC_POWER_ANALYSIS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_seasonality_strength — weekday ANOVA decomposition
# ---------------------------------------------------------------------------

_SEAS_F_CRIT = "2.1"  # F(6, large) upper 5% ~ 2.099


def analytic_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of daily purchase-volume variance is weekly
    seasonality? One-way ANOVA of daily counts by weekday:
    ``η² = SS_between/SS_total`` is the seasonality strength the
    forecasting literature thresholds on, and the F statistic gives
    the 5% verdict (critical 2.1 at 6 numerator dof). The companion
    of ``dq_seasonal_baseline`` (which flags individual days).

    All sufficient statistics are exact BIGINTs on the
    calendar-bounded daily relation (counts, per-weekday Σx and Σx²);
    the decomposition is one fixed double sequence from those exact
    sums. Shape: fact → daily hash aggregation → 7-row weekday
    aggregation; nothing wider than a day count ever shuffles."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    wd = daily.select(F.weekday("day").alias("w"), "x")
    per_w = wd.groupBy("w").agg(
        F.count(F.lit(1)).alias("n_w"),
        F.sum("x").alias("s1_w"),
        F.sum(F.col("x") * F.col("x")).alias("s2_w"),
    )
    agg = per_w.agg(
        F.sum("n_w").cast("bigint").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s1_w").cast("double").alias("s1"),
        F.sum("s2_w").cast("double").alias("s2"),
        F.sum(
            F.col("s1_w").cast("double") * F.col("s1_w") / F.col("n_w")
        ).alias("sb_raw"),
    )
    n = F.col("n_days").cast("double")
    ss_total = F.col("s2") - F.col("s1") * F.col("s1") / n
    ss_between = F.col("sb_raw") - F.col("s1") * F.col("s1") / n
    f_stat = (ss_between / (F.col("k") - 1).cast("double")) / (
        (ss_total - ss_between) / (n - F.col("k").cast("double"))
    )
    return agg.select(
        "n_days",
        "k",
        F.round(ss_total, 6).alias("ss_total"),
        F.round(ss_between, 6).alias("ss_between"),
        F.round(ss_between / ss_total, 6).alias("eta2"),
        F.round(f_stat, 6).alias("f_stat"),
        (F.round(f_stat, 6) > F.lit(float(_SEAS_F_CRIT))).alias("seasonal_5pct"),
    )


ANALYTIC_SEASONALITY_STRENGTH_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
wd AS (SELECT isodow(day) - 1 AS w, x FROM daily),
per_w AS (
    SELECT w, COUNT(*) AS n_w, SUM(x) AS s1_w, SUM(x * x) AS s2_w
    FROM wd GROUP BY w
),
agg AS (
    SELECT CAST(SUM(n_w) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(s1_w) AS DOUBLE) AS s1,
           CAST(SUM(s2_w) AS DOUBLE) AS s2,
           SUM(CAST(s1_w AS DOUBLE) * s1_w / n_w) AS sb_raw
    FROM per_w
)
SELECT n_days, k,
       round(s2 - s1 * s1 / n_days, 6) AS ss_total,
       round(sb_raw - s1 * s1 / n_days, 6) AS ss_between,
       round((sb_raw - s1 * s1 / n_days) / (s2 - s1 * s1 / n_days), 6) AS eta2,
       round(((sb_raw - s1 * s1 / n_days) / (k - 1))
             / (((s2 - s1 * s1 / n_days) - (sb_raw - s1 * s1 / n_days))
                / (CAST(n_days AS DOUBLE) - k)), 6) AS f_stat,
       round(((sb_raw - s1 * s1 / n_days) / (k - 1))
             / (((s2 - s1 * s1 / n_days) - (sb_raw - s1 * s1 / n_days))
                / (CAST(n_days AS DOUBLE) - k)), 6) > {_SEAS_F_CRIT}
           AS seasonal_5pct
FROM agg
"""

SPECS.append(
    QuerySpec(
        "analytic_seasonality_strength",
        analytic_seasonality_strength,
        ANALYTIC_SEASONALITY_STRENGTH_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_cuped — CUPED variance reduction for experiment metrics
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "2024-01-16"  # pre-period / experiment-period boundary


def analytic_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013 — the
    technique every experimentation platform applies before reading
    an A/B test): per-user experiment-period purchase value y is
    adjusted by the same user's PRE-period value x via
    ``y' = y − θ(x − x̄)`` with ``θ = cov(x,y)/var(x)``; the variance
    of y' shrinks by exactly ``cov²/(var_x·var_y)`` (= ρ²). Reports
    θ and the achieved reduction — the sensitivity win that shortens
    experiments.

    Shape: ONE per-user aggregation pivots pre/post cents (map-side
    combine), one moment aggregate over users, closed-form doubles
    from exact DECIMAL sums (bit-identical cross-engine). At 100 TB:
    two shuffles total, both keyed (user, then scalar)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    split = F.lit(_CUPED_SPLIT).cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.to_date("ts") < split, F.round(F.col("value") * 100)
            ).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("x"),
        F.sum(
            F.when(
                F.to_date("ts") >= split, F.round(F.col("value") * 100)
            ).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("y"),
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n_users").cast("double")
    cov = F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)
    var_x = F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)
    var_y = F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)
    theta = cov / var_x
    var_adj = var_y - cov * cov / var_x
    return m.select(
        "n_users",
        F.round(theta, 6).alias("theta"),
        F.round(var_y, 6).alias("var_y"),
        F.round(var_adj, 6).alias("var_adjusted"),
        F.round(
            (cov * cov / var_x) / var_y * 100,
            6,
        ).alias("var_reduction_pct"),
    )


ANALYTIC_CUPED_ORACLE = f"""
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_CUPED_SPLIT}'
                         THEN round(value * 100) ELSE 0 END)
                AS DECIMAL(38,0)) AS x,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '{_CUPED_SPLIT}'
                         THEN round(value * 100) ELSE 0 END)
                AS DECIMAL(38,0)) AS y
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(x) AS DOUBLE) AS sx,
           CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(x * y) AS DOUBLE) AS sxy,
           CAST(SUM(x * x) AS DOUBLE) AS sxx,
           CAST(SUM(y * y) AS DOUBLE) AS syy
    FROM per_user
)
SELECT n_users,
       round((sxy / n_users - (sx / n_users) * (sy / n_users))
             / (sxx / n_users - (sx / n_users) * (sx / n_users)), 6) AS theta,
       round(syy / n_users - (sy / n_users) * (sy / n_users), 6) AS var_y,
       round((syy / n_users - (sy / n_users) * (sy / n_users))
             - (sxy / n_users - (sx / n_users) * (sy / n_users))
               * (sxy / n_users - (sx / n_users) * (sy / n_users))
               / (sxx / n_users - (sx / n_users) * (sx / n_users)), 6)
           AS var_adjusted,
       round(((sxy / n_users - (sx / n_users) * (sy / n_users))
              * (sxy / n_users - (sx / n_users) * (sy / n_users))
              / (sxx / n_users - (sx / n_users) * (sx / n_users)))
             / (syy / n_users - (sy / n_users) * (sy / n_users)) * 100, 6)
           AS var_reduction_pct
FROM m
"""

SPECS.append(
    QuerySpec(
        "analytic_cuped",
        analytic_cuped,
        ANALYTIC_CUPED_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# graph_assortativity — degree-degree correlation over edges
# ---------------------------------------------------------------------------


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part–supplier fulfilment graph
    (Newman 2002): the Pearson correlation of (part degree, supplier
    degree) across EDGES — do high-degree parts source from
    high-degree suppliers? Negative assortativity is the classic
    bipartite hub-to-leaf signature; the number a graph audit quotes
    next to ``graph_modularity``.

    Exact moments: degrees are integer counts from two hash
    aggregations over the distinct-edge dictionary, joined back to
    edges (broadcast on the smaller supplier dim, hash join on the
    part side); Σd_p, Σd_s, Σd_p·d_s, Σd_p², Σd_s² are DECIMAL sums,
    and r is the one closed-form double. At 100 TB the edge relation
    is dimension×dimension bounded and everything is keyed — no
    global structure."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    )
    edges = li.distinct()
    deg_p = edges.groupBy("p").agg(F.count(F.lit(1)).alias("dp"))
    deg_s = edges.groupBy("s").agg(F.count(F.lit(1)).alias("ds"))
    e = (
        edges.join(deg_p, "p")
        .join(F.broadcast(deg_s), "s")
        .select(
            F.col("dp").cast("decimal(38,0)").alias("x"),
            F.col("ds").cast("decimal(38,0)").alias("y"),
        )
    )
    m = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n_edges").cast("double")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select("n_edges", F.round(r, 6).alias("assortativity"))


GRAPH_ASSORTATIVITY_ORACLE = """
WITH edges AS MATERIALIZED (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
),
dp AS (SELECT p, COUNT(*) AS dp FROM edges GROUP BY p),
ds AS (SELECT s, COUNT(*) AS ds FROM edges GROUP BY s),
e AS (
    SELECT CAST(dp.dp AS DECIMAL(38,0)) AS x, CAST(ds.ds AS DECIMAL(38,0)) AS y
    FROM edges JOIN dp USING (p) JOIN ds USING (s)
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(x * y) AS DOUBLE) AS sxy,
           CAST(SUM(x * x) AS DOUBLE) AS sxx,
           CAST(SUM(y * y) AS DOUBLE) AS syy
    FROM e
)
SELECT n_edges,
       round((n_edges * sxy - sx * sy)
             / (sqrt(n_edges * sxx - sx * sx)
                * sqrt(n_edges * syy - sy * sy)), 6) AS assortativity
FROM m
"""

SPECS.append(
    QuerySpec(
        "graph_assortativity",
        graph_assortativity,
        GRAPH_ASSORTATIVITY_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# win_rolling_corr — rolling correlation of two daily series
# ---------------------------------------------------------------------------

_RC_WIN = 14  # days


def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day rolling Pearson correlation between daily purchase and
    view counts — the co-movement monitor that flags when engagement
    decouples from conversion. Both series come from ONE daily
    aggregation (conditional counts); each day's correlation uses
    exact integer window sums (Σx, Σy, Σxy, Σx², Σy² over the
    calendar-bounded frame), so the closed-form r is bit-identical
    cross-engine. Only full 14-day frames are emitted (partial-frame
    r is not comparable). One window partition-free over the daily
    relation — ≤ a few thousand rows regardless of fact size."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "purchase").cast("bigint")).alias("x"),
        F.sum((F.col("event_type") == "view").cast("bigint")).alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-(_RC_WIN - 1), Window.currentRow)
    rolled = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    ).filter(F.col("n") == _RC_WIN)
    n = F.col("n").cast("double")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return rolled.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("sx").cast("bigint").alias("purchases_14d"),
        F.col("sy").cast("bigint").alias("views_14d"),
        F.round(r, 6).alias("rolling_corr"),
    )


WIN_ROLLING_CORR_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
           SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS y
    FROM events GROUP BY 1
),
rolled AS (
    SELECT day,
           COUNT(*) OVER w AS n,
           SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
           SUM(x * y) OVER w AS sxy,
           SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN {_RC_WIN - 1} PRECEDING
                 AND CURRENT ROW)
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(sx AS BIGINT) AS purchases_14d,
       CAST(sy AS BIGINT) AS views_14d,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
           AS rolling_corr
FROM rolled WHERE n = {_RC_WIN}
"""

SPECS.append(
    QuerySpec(
        "win_rolling_corr",
        win_rolling_corr,
        WIN_ROLLING_CORR_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_prop_ztest — two-proportion z-tests down the funnel
# ---------------------------------------------------------------------------


def analytic_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between consecutive funnel stages at
    USER-DAY grain (a user-day that viewed: did it also click? a
    user-day that clicked: did it also purchase?): is the treatment
    cohort's stage conversion different from control's? Cohorts are
    the deterministic hash split an experiment platform actually
    assigns (``h32('cohort-'‖user) mod 2``). Per transition, the
    pooled two-proportion z ``(p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂))`` from
    exact integer numerators/denominators and one fixed double
    sequence — the funnel-diagnosis companion of
    ``analytic_ab_test``.

    Shape: one (user, day) flag aggregation (map-side combine), a
    2×stages count rollup, per-transition scalar math — nothing
    after the first aggregation exceeds cohort×stage rows."""
    ev = load(spark, sf_dir, "events")
    from ._helpers import h32  # noqa: PLC0415

    cohort_flag = (
        h32(F.concat(F.lit("cohort-"), F.col("user_id"))) % 2
    ).cast("int")
    flags = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("v"),
        F.max((F.col("event_type") == "click").cast("int")).alias("c"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("p"),
        F.first(cohort_flag).alias("grp"),
    )
    cohort = flags.groupBy("grp").agg(
        F.sum("v").cast("bigint").alias("n_view"),
        F.sum(F.col("v") * F.col("c")).cast("bigint").alias("n_view_click"),
        F.sum("c").cast("bigint").alias("n_click"),
        F.sum(F.col("c") * F.col("p")).cast("bigint").alias("n_click_buy"),
    )
    stages = [("view->click", "n_view", "n_view_click"),
              ("click->purchase", "n_click", "n_click_buy")]
    out = None
    a = cohort.filter(F.col("grp") == 1)
    b = cohort.filter(F.col("grp") == 0)
    for label, n_col, k_col in stages:
        pa = a.select(
            F.lit(label).alias("transition"),
            F.col(n_col).alias("n1"),
            F.col(k_col).alias("k1"),
        )
        pb = b.select(F.col(n_col).alias("n2"), F.col(k_col).alias("k2"))
        row = pa.crossJoin(F.broadcast(pb))
        out = row if out is None else out.unionByName(row)
    p1 = F.col("k1").cast("double") / F.col("n1")
    p2 = F.col("k2").cast("double") / F.col("n2")
    pp = (F.col("k1") + F.col("k2")).cast("double") / (F.col("n1") + F.col("n2"))
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
    )
    return out.select(
        "transition",
        "n1",
        "k1",
        "n2",
        "k2",
        F.round(p1, 6).alias("rate_treat"),
        F.round(p2, 6).alias("rate_control"),
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > 1.96).alias("reject_5pct"),
    ).orderBy("transition")


ANALYTIC_PROP_ZTEST_ORACLE = """
WITH flags AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
           CAST(('0x' || substring(md5('cohort-' || user_id), 1, 8))::BIGINT % 2
                AS INTEGER) AS grp
    FROM events GROUP BY user_id, CAST(ts AS DATE)
),
cohortp AS (
    SELECT CAST(SUM(v) AS BIGINT) AS n_view,
           CAST(SUM(v * c) AS BIGINT) AS n_view_click,
           CAST(SUM(c) AS BIGINT) AS n_click,
           CAST(SUM(c * p) AS BIGINT) AS n_click_buy
    FROM flags WHERE grp = 1
),
cohortr AS (
    SELECT CAST(SUM(v) AS BIGINT) AS n_view,
           CAST(SUM(v * c) AS BIGINT) AS n_view_click,
           CAST(SUM(c) AS BIGINT) AS n_click,
           CAST(SUM(c * p) AS BIGINT) AS n_click_buy
    FROM flags WHERE grp = 0
),
rows_ AS (
    SELECT 'view->click' AS transition, a.n_view AS n1, a.n_view_click AS k1,
           b.n_view AS n2, b.n_view_click AS k2
    FROM cohortp a CROSS JOIN cohortr b
    UNION ALL
    SELECT 'click->purchase', a.n_click, a.n_click_buy,
           b.n_click, b.n_click_buy
    FROM cohortp a CROSS JOIN cohortr b
)
SELECT transition, n1, k1, n2, k2,
       round(CAST(k1 AS DOUBLE) / n1, 6) AS rate_treat,
       round(CAST(k2 AS DOUBLE) / n2, 6) AS rate_control,
       round((CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2)
             / sqrt((CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                    * (1 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                    * (1.0 / n1 + 1.0 / n2)), 6) AS z,
       abs(round((CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2)
             / sqrt((CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                    * (1 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                    * (1.0 / n1 + 1.0 / n2)), 6)) > 1.96 AS reject_5pct
FROM rows_ ORDER BY transition
"""

SPECS.append(
    QuerySpec(
        "analytic_prop_ztest",
        analytic_prop_ztest,
        ANALYTIC_PROP_ZTEST_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# pipeline_experiment_readout — the experimentation flagship:
# hash-split cohorts → exact moments → CUPED adjustment → effect + z
# ---------------------------------------------------------------------------


def pipeline_experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row experiment readout composing the engine's A/B
    primitives end to end: deterministic hash-split cohorts
    (the assignment mechanism of ``analytic_prop_ztest``), per-user
    pre/post purchase cents (the CUPED split of ``analytic_cuped``),
    POOLED θ from combined moments, per-cohort CUPED-adjusted means
    and variances, and both the raw and adjusted difference-in-means
    z statistics — the report an experimenter actually reads, where
    the adjusted |z| ≥ raw |z| whenever the pre-period covariate has
    signal.

    Everything derives from ONE per-user aggregation and a 2-row
    cohort-moment relation pivoted to a single row; every double is
    a fixed expression over exact DECIMAL sums, evaluated with the
    same lateral-alias structure in both engines."""
    from ._helpers import h32  # noqa: PLC0415

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    split = F.lit(_CUPED_SPLIT).cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.to_date("ts") < split, F.round(F.col("value") * 100)).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("x"),
        F.sum(
            F.when(F.to_date("ts") >= split, F.round(F.col("value") * 100)).otherwise(
                0
            )
        )
        .cast("decimal(38,0)")
        .alias("y"),
    ).select(
        (h32(F.concat(F.lit("cohort-"), F.col("user_id"))) % 2)
        .cast("int")
        .alias("grp"),
        "x",
        "y",
    )
    cm = per_user.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )

    def side(g: int, c: str) -> F.Column:
        return F.max(F.when(F.col("grp") == g, F.col(c)))

    wide = cm.agg(
        *[side(1, c).alias(f"{c}1") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")],
        *[side(0, c).alias(f"{c}0") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")],
    )
    e = {}
    e["np"] = F.col("n1") + F.col("n0")
    e["mxp"] = (F.col("sx1") + F.col("sx0")) / e["np"]
    e["myp"] = (F.col("sy1") + F.col("sy0")) / e["np"]
    e["cov_p"] = (F.col("sxy1") + F.col("sxy0")) / e["np"] - e["mxp"] * e["myp"]
    e["varx_p"] = (F.col("sxx1") + F.col("sxx0")) / e["np"] - e["mxp"] * e["mxp"]
    e["theta"] = e["cov_p"] / e["varx_p"]
    for g in (1, 0):
        e[f"mx{g}"] = F.col(f"sx{g}") / F.col(f"n{g}")
        e[f"my{g}"] = F.col(f"sy{g}") / F.col(f"n{g}")
        e[f"vary{g}"] = F.col(f"syy{g}") / F.col(f"n{g}") - e[f"my{g}"] * e[f"my{g}"]
        e[f"varx{g}"] = F.col(f"sxx{g}") / F.col(f"n{g}") - e[f"mx{g}"] * e[f"mx{g}"]
        e[f"cov{g}"] = (
            F.col(f"sxy{g}") / F.col(f"n{g}") - e[f"mx{g}"] * e[f"my{g}"]
        )
        e[f"madj{g}"] = e[f"my{g}"] - e["theta"] * (e[f"mx{g}"] - e["mxp"])
        e[f"vadj{g}"] = (
            e[f"vary{g}"]
            - 2 * e["theta"] * e[f"cov{g}"]
            + e["theta"] * e["theta"] * e[f"varx{g}"]
        )
    z_raw = (e["my1"] - e["my0"]) / F.sqrt(
        e["vary1"] / F.col("n1") + e["vary0"] / F.col("n0")
    )
    z_adj = (e["madj1"] - e["madj0"]) / F.sqrt(
        e["vadj1"] / F.col("n1") + e["vadj0"] / F.col("n0")
    )
    return wide.select(
        F.col("n1").cast("bigint").alias("n_treat"),
        F.col("n0").cast("bigint").alias("n_control"),
        F.round(e["theta"], 6).alias("theta"),
        F.round(e["my1"] - e["my0"], 6).alias("effect_raw_cents"),
        F.round(e["madj1"] - e["madj0"], 6).alias("effect_adj_cents"),
        F.round(z_raw, 6).alias("z_raw"),
        F.round(z_adj, 6).alias("z_adj"),
        (F.abs(F.round(z_adj, 6)) > 1.96).alias("reject_5pct"),
    )


PIPELINE_EXPERIMENT_READOUT_ORACLE = f"""
WITH per_user AS (
    SELECT CAST(('0x' || substring(md5('cohort-' || user_id), 1, 8))::BIGINT % 2
                AS INTEGER) AS grp,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_CUPED_SPLIT}'
                         THEN round(value * 100) ELSE 0 END)
                AS DECIMAL(38,0)) AS x,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '{_CUPED_SPLIT}'
                         THEN round(value * 100) ELSE 0 END)
                AS DECIMAL(38,0)) AS y
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
cm AS (
    SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(x * y) AS DOUBLE) AS sxy,
           CAST(SUM(x * x) AS DOUBLE) AS sxx,
           CAST(SUM(y * y) AS DOUBLE) AS syy
    FROM per_user GROUP BY grp
),
wide AS (
    SELECT MAX(CASE WHEN grp = 1 THEN n END) AS n1,
           MAX(CASE WHEN grp = 1 THEN sx END) AS sx1,
           MAX(CASE WHEN grp = 1 THEN sy END) AS sy1,
           MAX(CASE WHEN grp = 1 THEN sxy END) AS sxy1,
           MAX(CASE WHEN grp = 1 THEN sxx END) AS sxx1,
           MAX(CASE WHEN grp = 1 THEN syy END) AS syy1,
           MAX(CASE WHEN grp = 0 THEN n END) AS n0,
           MAX(CASE WHEN grp = 0 THEN sx END) AS sx0,
           MAX(CASE WHEN grp = 0 THEN sy END) AS sy0,
           MAX(CASE WHEN grp = 0 THEN sxy END) AS sxy0,
           MAX(CASE WHEN grp = 0 THEN sxx END) AS sxx0,
           MAX(CASE WHEN grp = 0 THEN syy END) AS syy0
    FROM cm
),
calc AS (
    SELECT *,
           n1 + n0 AS np,
           (sx1 + sx0) / np AS mxp,
           (sy1 + sy0) / np AS myp,
           (sxy1 + sxy0) / np - mxp * myp AS cov_p,
           (sxx1 + sxx0) / np - mxp * mxp AS varx_p,
           cov_p / varx_p AS theta,
           sx1 / n1 AS mx1, sy1 / n1 AS my1,
           syy1 / n1 - my1 * my1 AS vary1,
           sxx1 / n1 - mx1 * mx1 AS varx1,
           sxy1 / n1 - mx1 * my1 AS cov1,
           my1 - theta * (mx1 - mxp) AS madj1,
           vary1 - 2 * theta * cov1 + theta * theta * varx1 AS vadj1,
           sx0 / n0 AS mx0, sy0 / n0 AS my0,
           syy0 / n0 - my0 * my0 AS vary0,
           sxx0 / n0 - mx0 * mx0 AS varx0,
           sxy0 / n0 - mx0 * my0 AS cov0,
           my0 - theta * (mx0 - mxp) AS madj0,
           vary0 - 2 * theta * cov0 + theta * theta * varx0 AS vadj0
    FROM wide
)
SELECT CAST(n1 AS BIGINT) AS n_treat,
       CAST(n0 AS BIGINT) AS n_control,
       round(theta, 6) AS theta,
       round(my1 - my0, 6) AS effect_raw_cents,
       round(madj1 - madj0, 6) AS effect_adj_cents,
       round((my1 - my0) / sqrt(vary1 / n1 + vary0 / n0), 6) AS z_raw,
       round((madj1 - madj0) / sqrt(vadj1 / n1 + vadj0 / n0), 6) AS z_adj,
       abs(round((madj1 - madj0) / sqrt(vadj1 / n1 + vadj0 / n0), 6)) > 1.96
           AS reject_5pct
FROM calc
"""

SPECS.append(
    QuerySpec(
        "pipeline_experiment_readout",
        pipeline_experiment_readout,
        PIPELINE_EXPERIMENT_READOUT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_forecast_backtest — rolling-origin evaluation of the
# weekday-mean forecaster
# ---------------------------------------------------------------------------

_BT_MIN_HISTORY = 2  # need >= 2 prior same-weekday observations


def analytic_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the same-weekday-mean forecaster
    over the daily purchase series: each day is predicted from the
    mean of its OWN weekday's strictly-prior days (the leakage-safe
    expanding-window protocol), and the errors roll up to MAPE,
    sMAPE and bias — the scorecard that decides whether
    ``dq_seasonal_baseline``'s model is good enough to page on.

    Exactness: the prior-mean is a ratio of exact integer prefix
    sums from ONE cumulative window per weekday partition; each
    day's error term is one double expression rounded to 12 dp and
    summed as DECIMAL (order-free). Only days with ≥2 prior
    same-weekday observations score. Shape: fact → daily hash agg →
    7-partition cumulative windows → one summary row."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w = (
        Window.partitionBy(F.weekday("day"))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = daily.select(
        "day",
        "x",
        F.coalesce(F.sum("x").over(w), F.lit(0)).alias("prior_sum"),
        F.count("x").over(w).alias("prior_n"),
    ).filter(F.col("prior_n") >= _BT_MIN_HISTORY)
    f = F.col("prior_sum").cast("double") / F.col("prior_n")
    ape = F.round(F.abs(F.col("x") - f) / F.col("x"), 12).cast("decimal(24,12)")
    sape = F.round(
        2 * F.abs(F.col("x") - f) / (F.col("x") + f), 12
    ).cast("decimal(24,12)")
    err = F.round(f - F.col("x"), 12).cast("decimal(24,12)")
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum(ape).alias("ape_sum"),
        F.sum(sape).alias("sape_sum"),
        F.sum(err).alias("err_sum"),
    )
    return agg.select(
        "n_scored",
        F.round(F.col("ape_sum").cast("double") / F.col("n_scored") * 100, 6).alias(
            "mape_pct"
        ),
        F.round(
            F.col("sape_sum").cast("double") / F.col("n_scored") * 100, 6
        ).alias("smape_pct"),
        F.round(F.col("err_sum").cast("double") / F.col("n_scored"), 6).alias(
            "mean_bias"
        ),
    )


ANALYTIC_FORECAST_BACKTEST_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
scored AS (
    SELECT day, x,
           COALESCE(SUM(x) OVER w, 0) AS prior_sum,
           COUNT(x) OVER w AS prior_n
    FROM daily
    WINDOW w AS (PARTITION BY isodow(day) ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
terms AS (
    SELECT x,
           CAST(prior_sum AS DOUBLE) / prior_n AS f
    FROM scored WHERE prior_n >= {_BT_MIN_HISTORY}
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
           SUM(CAST(round(abs(x - f) / x, 12) AS DECIMAL(24,12))) AS ape_sum,
           SUM(CAST(round(2 * abs(x - f) / (x + f), 12) AS DECIMAL(24,12)))
               AS sape_sum,
           SUM(CAST(round(f - x, 12) AS DECIMAL(24,12))) AS err_sum
    FROM terms
)
SELECT n_scored,
       round(CAST(ape_sum AS DOUBLE) / n_scored * 100, 6) AS mape_pct,
       round(CAST(sape_sum AS DOUBLE) / n_scored * 100, 6) AS smape_pct,
       round(CAST(err_sum AS DOUBLE) / n_scored, 6) AS mean_bias
FROM agg
"""

SPECS.append(
    QuerySpec(
        "analytic_forecast_backtest",
        analytic_forecast_backtest,
        ANALYTIC_FORECAST_BACKTEST_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_fdr_bh — Benjamini-Hochberg FDR over the test battery
# ---------------------------------------------------------------------------

# z-scale thresholds for two-sided p <= 0.05*i/10, i = 1..10
# (Phi^-1(1 - p/2), standard normal quantiles as shared literals).
_BH_Z = [
    "2.807034", "2.575829", "2.432379", "2.326348", "2.241403",
    "2.170090", "2.108358", "2.053749", "2.004654", "1.959964",
]


def analytic_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control (JRSS-B 1995) over the
    ``analytic_mannwhitney`` battery: 10 simultaneous pairwise tests
    need multiple-testing correction before anyone acts on them.
    BH runs on the z SCALE — sort |z| descending, compare the i-th
    against the shared literal threshold for two-sided
    ``p = α·i/m`` (α=0.05, m=10), and reject ranks up to the LAST
    qualifying index (step-up) — so no normal CDF is evaluated at
    runtime and both engines compare the same rounded z against the
    same literals. The battery is a 10-row relation; everything here
    is dimension-sized."""
    mw = analytic_mannwhitney(spark, sf_dir).select(
        "ta", "tb", "z", F.abs(F.col("z")).alias("absz")
    )
    w = Window.orderBy(F.col("absz").desc(), "ta", "tb")
    ranked = mw.withColumn("rk", F.row_number().over(w))
    thr = spark.createDataFrame(
        [(i + 1, float(z)) for i, z in enumerate(_BH_Z)], "rk int, thr double"
    )
    j = ranked.join(F.broadcast(thr), "rk")
    cutoff = j.agg(
        F.max(F.when(F.col("absz") >= F.col("thr"), F.col("rk")).otherwise(0)).alias(
            "cut"
        )
    )
    return (
        j.crossJoin(cutoff)
        .select(
            "ta",
            "tb",
            "z",
            F.col("rk").cast("int").alias("rank"),
            F.col("thr").alias("z_threshold"),
            (F.col("rk") <= F.col("cut")).alias("reject_fdr_5pct"),
        )
        .orderBy("rank")
    )


def _bh_oracle() -> str:
    vals = ", ".join(f"({i + 1}, {z})" for i, z in enumerate(_BH_Z))
    return f"""
WITH mw AS ({ANALYTIC_MANNWHITNEY_ORACLE.replace("ORDER BY ta, tb", "")}),
ranked AS (
    SELECT ta, tb, z, abs(z) AS absz,
           row_number() OVER (ORDER BY abs(z) DESC, ta, tb) AS rk
    FROM mw
),
thr(rk, thr) AS (VALUES {vals}),
j AS (
    SELECT r.ta, r.tb, r.z, r.absz, r.rk, t.thr
    FROM ranked r JOIN thr t ON r.rk = t.rk
),
cutoff AS (
    SELECT MAX(CASE WHEN absz >= thr THEN rk ELSE 0 END) AS cut FROM j
)
SELECT ta, tb, z, CAST(rk AS INT) AS rank, thr AS z_threshold,
       rk <= cut AS reject_fdr_5pct
FROM j CROSS JOIN cutoff
ORDER BY rank
"""


SPECS.append(
    QuerySpec(
        "analytic_fdr_bh",
        analytic_fdr_bh,
        _bh_oracle(),
    )
)


# ---------------------------------------------------------------------------
# analytic_var_cvar — empirical VaR / CVaR of daily revenue changes
# ---------------------------------------------------------------------------

_VAR_ALPHA_PCT = 5  # tail level


def analytic_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical 5% Value-at-Risk and CVaR (expected shortfall) of
    day-over-day purchase-revenue changes — the risk-tail scorecard.
    VaR is the lower empirical quantile under the standard
    order-statistic definition (k = ⌈α·n⌉-th smallest delta), CVaR
    the mean of deltas ≤ VaR; both are exact integers (cents) except
    the final CVaR division.

    No value-sort of the fact: deltas live on the calendar-bounded
    daily relation; the order statistic comes from a rank window over
    those ≤ thousands of rows, and the tail mean is one conditional
    aggregate. Day-over-day deltas use a lag window on the same
    relation — two windows, one tiny relation, one summary row."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100)).cast("bigint").alias("rev")
    )
    lagw = Window.orderBy("day")
    deltas = daily.select(
        (F.col("rev") - F.lag("rev").over(lagw)).alias("d")
    ).filter(F.col("d").isNotNull())
    n = deltas.agg(F.count(F.lit(1)).alias("n"))
    ranked = deltas.withColumn(
        "rk", F.row_number().over(Window.orderBy("d"))
    ).crossJoin(n)
    k = F.ceil(F.col("n") * _VAR_ALPHA_PCT / 100.0)
    var_row = ranked.filter(F.col("rk") == k).select(
        F.col("d").alias("var_cents"), "n"
    )
    tail = (
        deltas.crossJoin(F.broadcast(var_row))
        .filter(F.col("d") <= F.col("var_cents"))
        .agg(
            F.max("n").cast("bigint").alias("n_days"),
            F.max("var_cents").cast("bigint").alias("var_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_tail"),
            F.round(
                F.sum("d").cast("double") / F.count(F.lit(1)), 6
            ).alias("cvar_cents"),
        )
    )
    return tail


ANALYTIC_VAR_CVAR_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(round(value * 100)) AS BIGINT) AS rev
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
deltas AS (
    SELECT d FROM (
        SELECT rev - lag(rev) OVER (ORDER BY day) AS d FROM daily
    ) WHERE d IS NOT NULL
),
n AS (SELECT COUNT(*) AS n FROM deltas),
ranked AS (
    SELECT d, row_number() OVER (ORDER BY d) AS rk FROM deltas
),
var_row AS (
    SELECT r.d AS var_cents, n.n
    FROM ranked r CROSS JOIN n
    WHERE r.rk = CAST(ceil(n.n * {_VAR_ALPHA_PCT} / 100.0) AS BIGINT)
)
SELECT CAST(v.n AS BIGINT) AS n_days,
       CAST(v.var_cents AS BIGINT) AS var_cents,
       CAST(COUNT(*) AS BIGINT) AS n_tail,
       round(CAST(SUM(d.d) AS DOUBLE) / COUNT(*), 6) AS cvar_cents
FROM deltas d CROSS JOIN var_row v
WHERE d.d <= v.var_cents
GROUP BY v.n, v.var_cents
"""

SPECS.append(
    QuerySpec(
        "analytic_var_cvar",
        analytic_var_cvar,
        ANALYTIC_VAR_CVAR_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_psm — propensity stratification matching (observational ATT)
# ---------------------------------------------------------------------------

# Fixed, public propensity weights (offline-fit logistic shape — the
# same discipline as text_quality_logreg's classifier constants).
_PSM_W0 = "-2.0"
_PSM_W_EVENTS = "0.04"
_PSM_W_SIGNUP = "0.5"


def analytic_psm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observational treatment-effect estimate via propensity-score
    STRATIFICATION MATCHING (Rosenbaum & Rubin 1983): exposure =
    "user hit an error event", outcome = purchase cents, confounders
    = activity volume and signup presence. A fixed-weight linear
    propensity score buckets users into 2-dp strata; within each
    stratum, treated and control users pair by deterministic rank
    (ordered by user_id), and the ATT is the mean matched-pair
    outcome difference — against the naive unadjusted difference for
    contrast. Determinism: the score is a fixed double sequence,
    bucketing is round(·, 2), pairing is integer ranks; outcomes are
    exact cents. Shape: one per-user aggregation, per-stratum rank
    windows (stratum-keyed partitions), one equi join on
    (stratum, rank), scalar rollups — nothing global."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max((F.col("event_type") == "error").cast("int")).alias("treated"),
        F.max((F.col("event_type") == "signup").cast("int")).alias("signup"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.round(F.col("value") * 100)
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    )
    score = (
        F.lit(float(_PSM_W0))
        + F.lit(float(_PSM_W_EVENTS)) * F.col("n_events")
        + F.lit(float(_PSM_W_SIGNUP)) * F.col("signup")
    )
    scored = per_user.select(
        "user_id", "treated", "y", F.round(score, 2).alias("stratum")
    )
    w = Window.partitionBy("stratum", "treated").orderBy("user_id")
    ranked = scored.withColumn("rn", F.row_number().over(w))
    t = ranked.filter(F.col("treated") == 1).select(
        "stratum", "rn", F.col("y").alias("y_t")
    )
    c = ranked.filter(F.col("treated") == 0).select(
        "stratum", "rn", F.col("y").alias("y_c")
    )
    pairs = t.join(c, ["stratum", "rn"])
    matched = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.round(
            F.sum(F.col("y_t") - F.col("y_c")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("att_cents"),
    )
    naive = scored.agg(
        F.sum("treated").cast("bigint").alias("n_treated"),
        (F.count(F.lit(1)) - F.sum("treated")).cast("bigint").alias("n_control"),
        F.round(
            F.sum(F.when(F.col("treated") == 1, F.col("y"))).cast("double")
            / F.sum("treated")
            - F.sum(F.when(F.col("treated") == 0, F.col("y"))).cast("double")
            / (F.count(F.lit(1)) - F.sum("treated")),
            6,
        ).alias("naive_diff_cents"),
    )
    return naive.crossJoin(matched).select(
        "n_treated", "n_control", "n_matched", "naive_diff_cents", "att_cents"
    )


ANALYTIC_PSM_ORACLE = f"""
WITH per_user AS (
    SELECT user_id, COUNT(*) AS n_events,
           MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS treated,
           MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS signup,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN round(value * 100) ELSE 0 END) AS BIGINT) AS y
    FROM events GROUP BY user_id
),
scored AS (
    SELECT user_id, treated, y,
           round({_PSM_W0} + {_PSM_W_EVENTS} * n_events
                 + {_PSM_W_SIGNUP} * signup, 2) AS stratum
    FROM per_user
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY stratum, treated
                                 ORDER BY user_id) AS rn
    FROM scored
),
pairs AS (
    SELECT t.y AS y_t, c.y AS y_c
    FROM (SELECT stratum, rn, y FROM ranked WHERE treated = 1) t
    JOIN (SELECT stratum, rn, y FROM ranked WHERE treated = 0) c
      USING (stratum, rn)
),
matched AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
           round(CAST(SUM(y_t - y_c) AS DOUBLE) / COUNT(*), 6) AS att_cents
    FROM pairs
),
naive AS (
    SELECT CAST(SUM(treated) AS BIGINT) AS n_treated,
           CAST(COUNT(*) - SUM(treated) AS BIGINT) AS n_control,
           round(CAST(SUM(CASE WHEN treated = 1 THEN y END) AS DOUBLE)
                 / SUM(treated)
                 - CAST(SUM(CASE WHEN treated = 0 THEN y END) AS DOUBLE)
                 / (COUNT(*) - SUM(treated)), 6) AS naive_diff_cents
    FROM scored
)
SELECT n_treated, n_control, n_matched, naive_diff_cents, att_cents
FROM naive CROSS JOIN matched
"""

SPECS.append(
    QuerySpec(
        "analytic_psm",
        analytic_psm,
        ANALYTIC_PSM_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# graph_bipartite_projection — co-sourcing projection of the
# part-supplier graph
# ---------------------------------------------------------------------------

_BP_LIFT = 2  # keep pairs with shared >= LIFT x expected co-occurrence


def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-mode projection of the part–supplier bipartite graph onto
    suppliers: an edge between two suppliers weighted by the number
    of parts both can fulfil, kept only when that count is ≥2× the
    independence expectation ``deg1·deg2/|parts|`` (a lift filter, so
    the projection stays sparse at EVERY scale — a fixed absolute
    threshold densifies as degrees grow) —
    the co-occurrence step that turns transactional bipartite data
    into the similarity graph community detection / link prediction
    consume (cf. graph_label_propagation, graph_link_prediction).

    Shape: the distinct-edge dictionary self-joins ON THE PART KEY —
    pair generation is quadratic only in per-part supplier degree
    (bounded by the supplier dimension, ~30 at sf0.1), then one hash
    aggregation on the supplier pair. The classic scale dial when a
    part's degree skews is dropping top-degree hub parts first (the
    projection literature's standard cut). The lift test is an exact
    integer cross-multiplication (shared·|parts| ≥ 2·deg1·deg2 — no
    division), applied AFTER aggregation so weights stay exact.
    Output keeps each edge once (s1 < s2) with the Jaccard
    normalization for downstream thresholding. On the uniform
    fixture the filter correctly passes NOTHING below sf0.1 (no pair
    co-occurs at twice independence) and only the significant tail
    at sf0.1 — empty small-scale output is the lift test working,
    and the oracle pins it."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    )
    edges = li.distinct()
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    a = edges.select("p", F.col("s").alias("s1"))
    b = edges.select("p", F.col("s").alias("s2"))
    n_parts = edges.select("p").distinct().agg(
        F.count(F.lit(1)).alias("n_parts")
    )
    pairs = (
        a.join(b, "p")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("deg").alias("deg2"))
    return (
        pairs.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .crossJoin(n_parts)
        .filter(
            F.col("shared").cast("decimal(38,0)") * F.col("n_parts")
            >= _BP_LIFT * F.col("deg1").cast("decimal(38,0)") * F.col("deg2")
        )
        .select(
            "s1",
            "s2",
            F.col("shared").cast("bigint").alias("shared_parts"),
            F.col("deg1").cast("bigint").alias("deg1"),
            F.col("deg2").cast("bigint").alias("deg2"),
            F.round(
                F.col("shared").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )


GRAPH_BIPARTITE_PROJECTION_ORACLE = f"""
WITH edges AS MATERIALIZED (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
),
deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
np AS (SELECT COUNT(DISTINCT p) AS n_parts FROM edges),
pairs AS (
    SELECT a.s AS s1, b.s AS s2, COUNT(*) AS shared
    FROM edges a JOIN edges b ON a.p = b.p AND a.s < b.s
    GROUP BY a.s, b.s
)
SELECT s1, s2,
       CAST(shared AS BIGINT) AS shared_parts,
       CAST(d1.deg AS BIGINT) AS deg1,
       CAST(d2.deg AS BIGINT) AS deg2,
       round(CAST(shared AS DOUBLE) / (d1.deg + d2.deg - shared), 6) AS jaccard
FROM pairs
JOIN deg d1 ON pairs.s1 = d1.s
JOIN deg d2 ON pairs.s2 = d2.s
CROSS JOIN np
WHERE CAST(shared AS DECIMAL(38,0)) * n_parts
      >= {_BP_LIFT} * CAST(d1.deg AS DECIMAL(38,0)) * d2.deg
ORDER BY s1, s2
"""

SPECS.append(
    QuerySpec(
        "graph_bipartite_projection",
        graph_bipartite_projection,
        GRAPH_BIPARTITE_PROJECTION_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_effect_size — Cohen's d / Hedges' g for the A/B readout
# ---------------------------------------------------------------------------


def analytic_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect size between the hash-split cohorts'
    per-user purchase values: Cohen's d (pooled-SD difference),
    Hedges' g (small-sample corrected, J = 1 − 3/(4·df − 1)), and
    the normal-approximation 95% CI of d — the practical-significance
    companion the z-tests (`analytic_prop_ztest`,
    `pipeline_experiment_readout`) don't report: a tiny p-value on a
    negligible effect is still a no-ship.

    All moments are exact DECIMAL sums from ONE per-user aggregation;
    d, g and the CI are fixed double sequences over those scalars —
    bit-identical cross-engine."""
    from ._helpers import h32  # noqa: PLC0415

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100)).cast("decimal(38,0)").alias("y")
    ).select(
        (h32(F.concat(F.lit("cohort-"), F.col("user_id"))) % 2)
        .cast("int")
        .alias("grp"),
        "y",
    )
    cm = per_user.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").cast("double").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("s2"),
    )
    wide = cm.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("grp") == 1, F.col("s2"))).alias("q1"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("s1"))).alias("a0"),
        F.max(F.when(F.col("grp") == 0, F.col("s2"))).alias("q0"),
    )
    m1 = F.col("a1") / F.col("n1")
    m0 = F.col("a0") / F.col("n0")
    ss1 = F.col("q1") - F.col("a1") * F.col("a1") / F.col("n1")
    ss0 = F.col("q0") - F.col("a0") * F.col("a0") / F.col("n0")
    df_ = F.col("n1") + F.col("n0") - 2
    sp = F.sqrt((ss1 + ss0) / df_)
    d = (m1 - m0) / sp
    j = 1 - 3 / (4 * df_ - 1)
    se = F.sqrt(
        (F.col("n1") + F.col("n0")) / (F.col("n1") * F.col("n0"))
        + d * d / (2 * df_)
    )
    return wide.select(
        F.col("n1").cast("bigint").alias("n_treat"),
        F.col("n0").cast("bigint").alias("n_control"),
        F.round(d, 6).alias("cohens_d"),
        F.round(j * d, 6).alias("hedges_g"),
        F.round(d - 1.959964 * se, 6).alias("d_ci_lo"),
        F.round(d + 1.959964 * se, 6).alias("d_ci_hi"),
    )


ANALYTIC_EFFECT_SIZE_ORACLE = """
WITH per_user AS (
    SELECT CAST(('0x' || substring(md5('cohort-' || user_id), 1, 8))::BIGINT % 2
                AS INTEGER) AS grp,
           CAST(SUM(round(value * 100)) AS DECIMAL(38,0)) AS y
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
cm AS (
    SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(y) AS DOUBLE) AS s1,
           CAST(SUM(y * y) AS DOUBLE) AS s2
    FROM per_user GROUP BY grp
),
wide AS (
    SELECT MAX(CASE WHEN grp = 1 THEN n END) AS n1,
           MAX(CASE WHEN grp = 1 THEN s1 END) AS a1,
           MAX(CASE WHEN grp = 1 THEN s2 END) AS q1,
           MAX(CASE WHEN grp = 0 THEN n END) AS n0,
           MAX(CASE WHEN grp = 0 THEN s1 END) AS a0,
           MAX(CASE WHEN grp = 0 THEN s2 END) AS q0
    FROM cm
),
calc AS (
    SELECT *,
           a1 / n1 AS m1, a0 / n0 AS m0,
           q1 - a1 * a1 / n1 AS ss1,
           q0 - a0 * a0 / n0 AS ss0,
           n1 + n0 - 2 AS df_,
           sqrt(((q1 - a1 * a1 / n1) + (q0 - a0 * a0 / n0)) / (n1 + n0 - 2))
               AS sp,
           (a1 / n1 - a0 / n0)
             / sqrt(((q1 - a1 * a1 / n1) + (q0 - a0 * a0 / n0))
                    / (n1 + n0 - 2)) AS d,
           1 - 3 / (4 * (n1 + n0 - 2) - 1) AS j,
           sqrt((n1 + n0) / (n1 * n0)
                + ((a1 / n1 - a0 / n0)
                   / sqrt(((q1 - a1 * a1 / n1) + (q0 - a0 * a0 / n0))
                          / (n1 + n0 - 2)))
                  * ((a1 / n1 - a0 / n0)
                     / sqrt(((q1 - a1 * a1 / n1) + (q0 - a0 * a0 / n0))
                            / (n1 + n0 - 2)))
                  / (2 * (n1 + n0 - 2))) AS se
    FROM wide
)
SELECT CAST(n1 AS BIGINT) AS n_treat,
       CAST(n0 AS BIGINT) AS n_control,
       round(d, 6) AS cohens_d,
       round(j * d, 6) AS hedges_g,
       round(d - 1.959964 * se, 6) AS d_ci_lo,
       round(d + 1.959964 * se, 6) AS d_ci_hi
FROM calc
"""

SPECS.append(
    QuerySpec(
        "analytic_effect_size",
        analytic_effect_size,
        ANALYTIC_EFFECT_SIZE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_qte — quantile treatment effects across the distribution
# ---------------------------------------------------------------------------

_QTE_QS = [10, 25, 50, 75, 90]


def analytic_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the treatment-control difference
    at the 10/25/50/75/90th percentiles of per-user purchase value —
    the distributional view a mean effect (`analytic_effect_size`)
    hides: a lift concentrated in whales shows at q90 and not q50.
    Percentiles are exact interpolating percentiles over integer
    cents (Spark `percentile` ≡ DuckDB `percentile_cont`, shared
    linear-interpolation definition — the `agg_percentile_exact`
    discipline), so every quantile and difference hash-matches. One
    per-user aggregation, one 2-group exact-percentile aggregate, a
    1×1 broadcast join."""
    from ._helpers import h32  # noqa: PLC0415

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100)).cast("bigint").alias("y")
    ).select(
        (h32(F.concat(F.lit("cohort-"), F.col("user_id"))) % 2)
        .cast("int")
        .alias("grp"),
        "y",
    )
    qcols = [
        F.expr(f"percentile(y, {q / 100.0})").alias(f"q{q}") for q in _QTE_QS
    ]
    qs = per_user.groupBy("grp").agg(*qcols)
    t = qs.filter(F.col("grp") == 1).select(
        *[F.col(f"q{q}").alias(f"t{q}") for q in _QTE_QS]
    )
    c = qs.filter(F.col("grp") == 0).select(
        *[F.col(f"q{q}").alias(f"c{q}") for q in _QTE_QS]
    )
    wide = t.crossJoin(F.broadcast(c))
    out = None
    for q in _QTE_QS:
        row = wide.select(
            F.lit(q).cast("int").alias("pct"),
            F.round(F.col(f"t{q}"), 6).alias("treat_cents"),
            F.round(F.col(f"c{q}"), 6).alias("control_cents"),
            F.round(F.col(f"t{q}") - F.col(f"c{q}"), 6).alias("qte_cents"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("pct")


def _qte_oracle() -> str:
    tcols = ", ".join(
        f"percentile_cont({q / 100.0}) WITHIN GROUP (ORDER BY y) AS q{q}"
        for q in _QTE_QS
    )
    rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({q} AS INT) AS pct,
       round(t.q{q}, 6) AS treat_cents,
       round(c.q{q}, 6) AS control_cents,
       round(t.q{q} - c.q{q}, 6) AS qte_cents
FROM t CROSS JOIN c"""
        for q in _QTE_QS
    )
    return f"""
WITH per_user AS (
    SELECT CAST(('0x' || substring(md5('cohort-' || user_id), 1, 8))::BIGINT % 2
                AS INTEGER) AS grp,
           CAST(SUM(round(value * 100)) AS BIGINT) AS y
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
qs AS (SELECT grp, {tcols} FROM per_user GROUP BY grp),
t AS (SELECT * FROM qs WHERE grp = 1),
c AS (SELECT * FROM qs WHERE grp = 0)
{rows}
ORDER BY pct
"""


SPECS.append(
    QuerySpec(
        "analytic_qte",
        analytic_qte,
        _qte_oracle(),
    )
)


# ---------------------------------------------------------------------------
# agg_frequency_moments — F0/F1/F2 and the self-join size they imply
# ---------------------------------------------------------------------------

_FM_COLS = [("lineitem", "l_partkey"), ("orders", "o_custkey"),
            ("events", "user_id")]


def agg_frequency_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency moments F₀ (distinct), F₁ (count) and EXACT
    F₂ = Σc² per join key — the Alon-Matias-Szegedy quantities a
    cost-based optimizer actually needs: F₂ IS the self-join size,
    and the skew factor ``F₂·F₀/F₁²`` (≥1, =1 iff uniform) predicts
    whether a key needs salting before `join_skew_salted` is even
    tried. One hash aggregation per key (map-side combine) plus a
    3-number reduce; F₂ sums are DECIMAL-exact."""
    out = None
    for tbl, col in _FM_COLS:
        t = load(spark, sf_dir, tbl)
        counts = t.groupBy(F.col(col).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        )
        row = counts.agg(
            F.lit(f"{tbl}.{col}").alias("key"),
            F.count(F.lit(1)).cast("bigint").alias("f0"),
            F.sum("c").cast("bigint").alias("f1"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("double")
            .alias("f2"),
        ).select(
            "key",
            "f0",
            "f1",
            "f2",
            F.round(
                F.col("f2") * F.col("f0") / (F.col("f1").cast("double") * F.col("f1")),
                6,
            ).alias("skew_factor"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("key")


def _freq_moments_oracle() -> str:
    parts = []
    for tbl, col in _FM_COLS:
        parts.append(f"""
SELECT '{tbl}.{col}' AS key,
       CAST(COUNT(*) AS BIGINT) AS f0,
       CAST(SUM(c) AS BIGINT) AS f1,
       CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DOUBLE) AS f2,
       round(CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DOUBLE) * COUNT(*)
             / (CAST(SUM(c) AS DOUBLE) * SUM(c)), 6) AS skew_factor
FROM (SELECT COUNT(*) AS c FROM {tbl} GROUP BY {col})""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY key"


SPECS.append(
    QuerySpec(
        "agg_frequency_moments",
        agg_frequency_moments,
        _freq_moments_oracle(),
    )
)


# ---------------------------------------------------------------------------
# analytic_contribution — who moved the metric? (root-cause drill)
# ---------------------------------------------------------------------------

_CT_SPLIT = "2024-01-16"


def analytic_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis (the Adtributor shape, MSR 2014): the
    purchase-revenue delta between the reference and current period
    decomposed by event-type segment — each segment's share of the
    total move, plus its surprise (JS-style mix shift: current share
    of total vs reference share of total) — the first drill an
    on-call runs when a topline metric moves.

    Exactness: per-segment period sums are BIGINT cents from ONE
    conditional aggregation; deltas and shares are fixed double
    expressions; ordering by |delta| breaks ties by segment. At any
    scale this is one fact pass plus segment-sized math."""
    ev = load(spark, sf_dir, "events")
    split = F.lit(_CT_SPLIT).cast("date")
    seg = ev.groupBy(F.col("event_type").alias("segment")).agg(
        F.sum(
            F.when(F.to_date("ts") < split, F.round(F.col("value") * 100)).otherwise(0)
        )
        .cast("bigint")
        .alias("ref_cents"),
        F.sum(
            F.when(F.to_date("ts") >= split, F.round(F.col("value") * 100)).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("cur_cents"),
    )
    tot = seg.agg(
        F.sum("ref_cents").cast("bigint").alias("ref_tot"),
        F.sum("cur_cents").cast("bigint").alias("cur_tot"),
    )
    j = seg.crossJoin(tot)
    delta = (F.col("cur_cents") - F.col("ref_cents")).cast("double")
    tot_delta = (F.col("cur_tot") - F.col("ref_tot")).cast("double")
    mix_shift = (
        F.col("cur_cents").cast("double") / F.col("cur_tot")
        - F.col("ref_cents").cast("double") / F.col("ref_tot")
    )
    return j.select(
        "segment",
        "ref_cents",
        "cur_cents",
        F.round(delta, 6).alias("delta_cents"),
        F.round(delta / tot_delta, 6).alias("delta_share"),
        F.round(mix_shift, 6).alias("mix_shift"),
    ).orderBy(F.abs(F.col("delta_cents")).desc(), "segment")


ANALYTIC_CONTRIBUTION_ORACLE = f"""
WITH seg AS (
    SELECT event_type AS segment,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_CT_SPLIT}'
                         THEN round(value * 100) ELSE 0 END) AS BIGINT)
               AS ref_cents,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '{_CT_SPLIT}'
                         THEN round(value * 100) ELSE 0 END) AS BIGINT)
               AS cur_cents
    FROM events GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(ref_cents) AS BIGINT) AS ref_tot,
           CAST(SUM(cur_cents) AS BIGINT) AS cur_tot
    FROM seg
)
SELECT segment, ref_cents, cur_cents,
       round(CAST(cur_cents - ref_cents AS DOUBLE), 6) AS delta_cents,
       round(CAST(cur_cents - ref_cents AS DOUBLE)
             / CAST(cur_tot - ref_tot AS DOUBLE), 6) AS delta_share,
       round(CAST(cur_cents AS DOUBLE) / cur_tot
             - CAST(ref_cents AS DOUBLE) / ref_tot, 6) AS mix_shift
FROM seg CROSS JOIN tot
ORDER BY abs(CAST(cur_cents - ref_cents AS DOUBLE)) DESC, segment
"""

SPECS.append(
    QuerySpec(
        "analytic_contribution",
        analytic_contribution,
        ANALYTIC_CONTRIBUTION_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# win_seasonal_decompose — additive trend/seasonal/residual split
# ---------------------------------------------------------------------------


def win_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily purchase counts
    (STL-lite): trend = centered 7-day moving average, seasonal =
    per-weekday mean of the detrended series, residual = the rest —
    the decomposition `analytic_seasonality_strength` scores and
    `dq_seasonal_baseline` monitors, materialized per day.

    Determinism: the naive seasonal mean sums DOUBLES (order-
    dependent); here it is algebraically cleared to exact BIGINTs —
    ``seasonal_w = (7·Σx − ΣS₇) / (7·n_w)`` with S₇ the integer
    7-day window sums — so every output is a fixed double expression
    over exact integers. Full-frame days only. One daily
    aggregation, one 7-row weekday aggregation, calendar-bounded
    windows."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    framed = daily.select(
        "day",
        "x",
        F.sum("x").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    ).filter(F.col("n7") == 7)
    wk = framed.groupBy(F.weekday("day").alias("w")).agg(
        F.count(F.lit(1)).alias("n_w"),
        F.sum("x").alias("sx"),
        F.sum("s7").alias("ss7"),
    ).select(
        "w",
        (
            (7 * F.col("sx") - F.col("ss7")).cast("double")
            / (7 * F.col("n_w")).cast("double")
        ).alias("seasonal"),
    )
    j = framed.join(F.broadcast(wk), F.weekday("day") == F.col("w"))
    trend = F.col("s7").cast("double") / 7
    return j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("bigint").alias("x"),
        F.round(trend, 6).alias("trend"),
        F.round(F.col("seasonal"), 6).alias("seasonal"),
        F.round(F.col("x") - trend - F.col("seasonal"), 6).alias("residual"),
    ).orderBy("day")


WIN_SEASONAL_DECOMPOSE_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
framed AS (
    SELECT day, x,
           SUM(x) OVER w AS s7,
           COUNT(*) OVER w AS n7
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
full_frames AS (SELECT * FROM framed WHERE n7 = 7),
wk AS (
    SELECT isodow(day) - 1 AS w,
           CAST(7 * SUM(x) - SUM(s7) AS DOUBLE)
             / CAST(7 * COUNT(*) AS DOUBLE) AS seasonal
    FROM full_frames GROUP BY 1
)
SELECT strftime(f.day, '%Y-%m-%d') AS day,
       CAST(f.x AS BIGINT) AS x,
       round(CAST(f.s7 AS DOUBLE) / 7, 6) AS trend,
       round(wk.seasonal, 6) AS seasonal,
       round(f.x - CAST(f.s7 AS DOUBLE) / 7 - wk.seasonal, 6) AS residual
FROM full_frames f JOIN wk ON isodow(f.day) - 1 = wk.w
ORDER BY f.day
"""

SPECS.append(
    QuerySpec(
        "win_seasonal_decompose",
        win_seasonal_decompose,
        WIN_SEASONAL_DECOMPOSE_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# graph_reciprocity — weighted reciprocity of the trade graph
# ---------------------------------------------------------------------------


def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reciprocity of the directed nation trade graph:
    ``r = Σ_ij min(w_ij, w_ji) / Σ_ij w_ij`` (Squartini et al. 2013)
    — how much trade flows BOTH ways between nation pairs. The
    directed-graph health metric next to `graph_modularity` /
    `graph_assortativity`; r→1 is symmetric exchange, r→0 pure
    one-way flow. Self-loops (domestic trade) are excluded from
    both sums.

    The edge build is the shared fact-collapse (broadcast dimension
    hops, one groupBy); reciprocity is then one self-join of the
    dimension-sized edge list on the REVERSED key pair and a
    two-number exact-integer reduce — one final division."""
    # (b) shuffles 1 -> 2 without it: uncached, the global sums need an exchange
    edges = persist(_trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst")))
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w").alias("w_rev")
    )
    j = edges.join(F.broadcast(rev), ["src", "dst"], "left")
    agg = j.agg(
        F.sum("w").cast("bigint").alias("total_w"),
        F.sum(F.least(F.col("w"), F.coalesce(F.col("w_rev"), F.lit(0))))
        .cast("bigint")
        .alias("recip_w"),
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
    )
    return agg.select(
        "n_edges",
        "total_w",
        "recip_w",
        F.round(
            F.col("recip_w").cast("double") / F.col("total_w"), 6
        ).alias("reciprocity"),
    )


GRAPH_RECIPROCITY_ORACLE = """
WITH edges AS MATERIALIZED (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
    GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(a.w) AS BIGINT) AS total_w,
       CAST(SUM(LEAST(a.w, COALESCE(b.w, 0))) AS BIGINT) AS recip_w,
       round(CAST(SUM(LEAST(a.w, COALESCE(b.w, 0))) AS DOUBLE)
             / SUM(a.w), 6) AS reciprocity
FROM edges a LEFT JOIN edges b ON a.src = b.dst AND a.dst = b.src
"""

SPECS.append(
    QuerySpec(
        "graph_reciprocity",
        graph_reciprocity,
        GRAPH_RECIPROCITY_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_markov_transition — first-order event transition matrix
# ---------------------------------------------------------------------------


def analytic_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams:
    consecutive event-type pairs in (ts, event_id) order per user,
    with exact counts and row-normalized transition probabilities —
    the sequence model under next-action prediction and journey
    simulation (the matrix form of `analytic_user_paths`' prefix
    table). One shuffle keyed on user (lag window), one pair
    aggregation, broadcast row totals; counts exact, each
    probability one division rounded 6 dp."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.col("event_type").alias("to_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("from_type", F.lag("to_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("row_total").cast("bigint").alias("row_total"),
            F.round(F.col("n").cast("double") / F.col("row_total"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


ANALYTIC_MARKOV_TRANSITION_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type AS to_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS from_type
    FROM events
),
pairs AS (
    SELECT from_type, to_type, COUNT(*) AS n
    FROM seq WHERE from_type IS NOT NULL
    GROUP BY 1, 2
),
totals AS (SELECT from_type, SUM(n) AS row_total FROM pairs GROUP BY 1)
SELECT p.from_type, p.to_type,
       CAST(p.n AS BIGINT) AS n,
       CAST(t.row_total AS BIGINT) AS row_total,
       round(CAST(p.n AS DOUBLE) / t.row_total, 6) AS p
FROM pairs p JOIN totals t USING (from_type)
ORDER BY from_type, to_type
"""

SPECS.append(
    QuerySpec(
        "analytic_markov_transition",
        analytic_markov_transition,
        ANALYTIC_MARKOV_TRANSITION_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_growth_accounting — new / retained / resurrected / churned
# ---------------------------------------------------------------------------


def analytic_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — the product-analytics ledger every
    active-user chart decomposes into: per week, actives split into
    NEW (first week ever), RETAINED (active previous week),
    RESURRECTED (active before, but not previous week), plus the
    week's CHURNED (active previous week, absent now); retention and
    quick ratio follow. (`cohort_retention` tracks one cohort
    forward; this is the all-cohorts weekly ledger.)

    Shape: events collapse to the distinct (user, week) relation;
    classification is a lag window per user over that relation (weeks
    are integers, so 'previous week' is an exact lag comparison);
    churn re-joins the relation shifted one week. All counts exact;
    two ratios divide them. Dimension of everything after the first
    distinct: users × active-weeks."""
    ev = load(spark, sf_dir, "events")
    uw = persist(  # (b) scans 1 -> 3 without it
        ev.select(
            "user_id",
            F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7)
            .cast("int")
            .alias("wk"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("wk")
    tagged = uw.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
    ).select(
        "wk",
        F.when(F.col("prev_wk").isNull(), "new")
        .when(F.col("prev_wk") == F.col("wk") - 1, "retained")
        .otherwise("resurrected")
        .alias("cls"),
    )
    counts = (
        tagged.groupBy("wk")
        .agg(
            F.sum((F.col("cls") == "new").cast("bigint")).alias("new_users"),
            F.sum((F.col("cls") == "retained").cast("bigint")).alias("retained"),
            F.sum((F.col("cls") == "resurrected").cast("bigint")).alias(
                "resurrected"
            ),
            F.count(F.lit(1)).alias("active"),
        )
    )
    prev = uw.select("user_id", (F.col("wk") + 1).alias("wk"))
    churned = (
        prev.join(uw, ["user_id", "wk"], "left_anti")
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("churned"))
    )
    return (
        counts.join(F.broadcast(churned), "wk", "left")
        .select(
            F.col("wk").cast("int").alias("week"),
            F.col("active").cast("bigint").alias("active"),
            F.col("new_users").cast("bigint").alias("new_users"),
            F.col("retained").cast("bigint").alias("retained"),
            F.col("resurrected").cast("bigint").alias("resurrected"),
            F.coalesce(F.col("churned"), F.lit(0)).cast("bigint").alias("churned"),
            F.when(
                F.col("retained") + F.coalesce(F.col("churned"), F.lit(0)) > 0,
                F.round(
                    F.col("retained").cast("double")
                    / (F.col("retained") + F.coalesce(F.col("churned"), F.lit(0))),
                    6,
                ),
            ).alias("crr"),
        )
        .orderBy("week")
    )


ANALYTIC_GROWTH_ACCOUNTING_ORACLE = """
WITH uw AS (
    SELECT DISTINCT user_id,
           CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7)
                AS INTEGER) AS wk
    FROM events
),
tagged AS (
    SELECT wk,
           CASE WHEN prev_wk IS NULL THEN 'new'
                WHEN prev_wk = wk - 1 THEN 'retained'
                ELSE 'resurrected' END AS cls
    FROM (SELECT user_id, wk,
                 lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
          FROM uw)
),
counts AS (
    SELECT wk,
           SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS new_users,
           SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS retained,
           SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS resurrected,
           COUNT(*) AS active
    FROM tagged GROUP BY wk
),
churn AS (
    SELECT p.wk, COUNT(*) AS churned
    FROM (SELECT user_id, wk + 1 AS wk FROM uw) p
    LEFT JOIN uw c ON p.user_id = c.user_id AND p.wk = c.wk
    WHERE c.user_id IS NULL
    GROUP BY p.wk
)
SELECT CAST(co.wk AS INT) AS week,
       CAST(co.active AS BIGINT) AS active,
       CAST(co.new_users AS BIGINT) AS new_users,
       CAST(co.retained AS BIGINT) AS retained,
       CAST(co.resurrected AS BIGINT) AS resurrected,
       CAST(COALESCE(ch.churned, 0) AS BIGINT) AS churned,
       CASE WHEN co.retained + COALESCE(ch.churned, 0) > 0
            THEN round(CAST(co.retained AS DOUBLE)
                       / (co.retained + COALESCE(ch.churned, 0)), 6)
            END AS crr
FROM counts co LEFT JOIN churn ch ON co.wk = ch.wk
ORDER BY week
"""

SPECS.append(
    QuerySpec(
        "analytic_growth_accounting",
        analytic_growth_accounting,
        ANALYTIC_GROWTH_ACCOUNTING_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# win_rolling_skewness — rolling third-moment asymmetry monitor
# ---------------------------------------------------------------------------

_RS_WIN = 14


def win_rolling_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day rolling skewness of daily purchase counts — the
    asymmetry monitor that catches a regime where spikes replace
    steady volume before the mean moves (companion of
    `win_rolling_corr`; population-skewness definition of
    `dq_moments`). All window moments Σx, Σx², Σx³ are exact BIGINT
    sums over the calendar-bounded daily relation; the closed form
    ``g₁ = (Σx³/n − 3μσ² − μ³) / σ³`` is one fixed double sequence
    per day. Full frames only."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.orderBy("day").rowsBetween(-(_RS_WIN - 1), Window.currentRow)
    x = F.col("x")
    rolled = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(x).over(w).alias("s1"),
        F.sum(x * x).over(w).alias("s2"),
        F.sum(x * x * x).over(w).alias("s3"),
    ).filter(F.col("n") == _RS_WIN)
    n = F.col("n").cast("double")
    mu = F.col("s1") / n
    var = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    return rolled.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("s1").cast("bigint").alias("sum_14d"),
        F.round(m3 / (var * F.sqrt(var)), 6).alias("skewness"),
    )


WIN_ROLLING_SKEWNESS_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
rolled AS (
    SELECT day,
           COUNT(*) OVER w AS n,
           SUM(x) OVER w AS s1,
           SUM(x * x) OVER w AS s2,
           SUM(x * x * x) OVER w AS s3
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN {_RS_WIN - 1} PRECEDING
                 AND CURRENT ROW)
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(s1 AS BIGINT) AS sum_14d,
       round((CAST(s3 AS DOUBLE) / n
              - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
              + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                  * (CAST(s1 AS DOUBLE) / n))
             / ((CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                * sqrt(CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n))), 6) AS skewness
FROM rolled WHERE n = {_RS_WIN}
"""

SPECS.append(
    QuerySpec(
        "win_rolling_skewness",
        win_rolling_skewness,
        WIN_ROLLING_SKEWNESS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# graph_clustering_coefficient — local/global transitivity
# ---------------------------------------------------------------------------


def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficients over the MEDIAN-THRESHOLDED
    trade graph (edges at or above the median pair weight — the full
    trade graph is near-complete, so thresholding exposes actual
    structure): per node, ``C_v = 2·T_v / (d_v(d_v−1))`` with T_v
    the node's triangle count — the transitivity companion of
    `graph_triangle_count` (which counts on the unthresholded
    graph). Triangles enumerate once via the a<b<c double self-join
    of the dimension-sized canonical edge list (both joins
    broadcast); degrees are one aggregation; C_v is exact-integer
    in, one division out (d_v < 2 → null)."""
    # (b) shuffles 4 -> 5 without it
    wpairs = persist(
        _undirected_pairs(spark, sf_dir)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    med = wpairs.agg(F.expr("percentile(w, 0.5)").alias("m"))
    # (b) latency 0.70 -> 0.77 s without it (median of 3 warm runs)
    edges = persist(
        wpairs.crossJoin(med)
        .filter(F.col("w") >= F.col("m"))
        .select("a", "b")
    )
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tris = (
        e1.join(F.broadcast(e2), "y")
        .join(F.broadcast(e3), ["x", "z"], "left_semi")
        .select("x", "y", "z")
    )
    tri_nodes = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.join(F.broadcast(tri_nodes), "node", "left")
        .select(
            F.col("node").cast("int").alias("node"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("bigint").alias("triangles"),
            F.when(
                F.col("d") >= 2,
                F.round(
                    2 * F.coalesce("t", F.lit(0)).cast("double")
                    / (F.col("d") * (F.col("d") - 1)),
                    6,
                ),
            ).alias("local_coeff"),
        )
        .orderBy("node")
    )


GRAPH_CLUSTERING_COEFFICIENT_ORACLE = """
WITH wpairs AS MATERIALIZED (
    SELECT LEAST(c.c_nationkey, s.s_nationkey) AS a,
           GREATEST(c.c_nationkey, s.s_nationkey) AS b,
           COUNT(*) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
    GROUP BY 1, 2
),
med AS (SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY w) AS m FROM wpairs),
edges AS MATERIALIZED (
    SELECT a, b FROM wpairs CROSS JOIN med WHERE w >= m
),
tris AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM edges e1
    JOIN edges e2 ON e1.b = e2.a
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
tri_nodes AS (
    SELECT node, COUNT(*) AS t
    FROM (SELECT unnest([x, y, z]) AS node FROM tris)
    GROUP BY node
),
deg AS (
    SELECT node, COUNT(*) AS d
    FROM (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
    GROUP BY node
)
SELECT CAST(deg.node AS INT) AS node,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(COALESCE(tn.t, 0) AS BIGINT) AS triangles,
       CASE WHEN deg.d >= 2
            THEN round(2 * CAST(COALESCE(tn.t, 0) AS DOUBLE)
                       / (deg.d * (deg.d - 1)), 6)
       END AS local_coeff
FROM deg LEFT JOIN tri_nodes tn USING (node)
ORDER BY node
"""

SPECS.append(
    QuerySpec(
        "graph_clustering_coefficient",
        graph_clustering_coefficient,
        GRAPH_CLUSTERING_COEFFICIENT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_retention_fit — exponential decay fit + half-life
# ---------------------------------------------------------------------------


def analytic_retention_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-curve fit: pooled weekly retention by offset
    (actives k weeks after their signup week over the ELIGIBLE
    cohort mass — cohorts young enough to be observed at offset k),
    fitted as exponential decay ``ln r_k = a + b·k`` by OLS, with
    the implied half-life ``−ln2/b`` (null when the fit shows no
    decay, e.g. a fully-retained fixture) — the single number a growth
    team quotes from the `analytic_growth_accounting` /
    `cohort_retention` machinery.

    Exactness: numerators/denominators are exact user counts from
    the distinct (user, week) relation; each log term is
    ``round(ln r_k, 12)`` DECIMAL; OLS moments are exact DECIMAL
    sums (the `text_zipf_fit` recipe); half-life is one fixed double
    expression. Everything after the first distinct is offsets-sized."""
    ev = load(spark, sf_dir, "events")
    uw = persist(  # (b) scans 1 -> 4 without it
        ev.select(
            "user_id",
            F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7)
            .cast("int")
            .alias("wk"),
        )
        .distinct()
    )
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("c0"))
    maxwk = uw.agg(F.max("wk").alias("max_wk"))
    offs = (
        uw.join(cohort, "user_id")
        .select((F.col("wk") - F.col("c0")).alias("k"), "c0")
        .filter(F.col("k") >= 1)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("num"))
    )
    elig = (
        cohort.groupBy("c0")
        .agg(F.count(F.lit(1)).alias("size"))
        .crossJoin(maxwk)
    )
    # eligible mass at offset k = sum of cohort sizes with c0 + k <= max_wk
    ks = offs.select("k")
    den = (
        ks.join(F.broadcast(elig), F.col("c0") + F.col("k") <= F.col("max_wk"))
        .groupBy("k")
        .agg(F.sum("size").alias("den"))
    )
    rk = (
        offs.join(den, "k")
        .filter(F.col("num") > 0)
        .select(
            F.col("k").cast("double").alias("x"),
            F.round(
                F.log(F.col("num").cast("double") / F.col("den")), 12
            )
            .cast("decimal(24,12)")
            .alias("y"),
        )
    )
    m = rk.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("y").cast("double")).alias("sy"),
        F.sum(F.col("x") * F.col("y").cast("double")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_offsets"),
        F.round(b, 6).alias("decay_b"),
        F.when(b < 0, F.round(-F.log(F.lit(2.0)) / b, 6)).alias(
            "halflife_weeks"
        ),
    )


ANALYTIC_RETENTION_FIT_ORACLE = """
WITH uw AS (
    SELECT DISTINCT user_id,
           CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7)
                AS INTEGER) AS wk
    FROM events
),
cohort AS (SELECT user_id, MIN(wk) AS c0 FROM uw GROUP BY user_id),
maxwk AS (SELECT MAX(wk) AS max_wk FROM uw),
offs AS (
    SELECT u.wk - c.c0 AS k, COUNT(*) AS num
    FROM uw u JOIN cohort c USING (user_id)
    WHERE u.wk - c.c0 >= 1
    GROUP BY 1
),
sizes AS (SELECT c0, COUNT(*) AS size_ FROM cohort GROUP BY c0),
den AS (
    SELECT o.k, SUM(s.size_) AS den
    FROM (SELECT k FROM offs) o
    JOIN sizes s ON s.c0 + o.k <= (SELECT max_wk FROM maxwk)
    GROUP BY o.k
),
rk AS (
    SELECT CAST(o.k AS DOUBLE) AS x,
           CAST(round(ln(CAST(o.num AS DOUBLE) / d.den), 12)
                AS DECIMAL(24,12)) AS y
    FROM offs o JOIN den d USING (k)
    WHERE o.num > 0
),
m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           SUM(x) AS sx, SUM(CAST(y AS DOUBLE)) AS sy,
           SUM(x * CAST(y AS DOUBLE)) AS sxy, SUM(x * x) AS sxx
    FROM rk
)
SELECT CAST(n AS BIGINT) AS n_offsets,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS decay_b,
       CASE WHEN (n * sxy - sx * sy) / (n * sxx - sx * sx) < 0
            THEN round(-ln(2.0)
                       / ((n * sxy - sx * sy) / (n * sxx - sx * sx)), 6)
       END AS halflife_weeks
FROM m
"""

SPECS.append(
    QuerySpec(
        "analytic_retention_fit",
        analytic_retention_fit,
        ANALYTIC_RETENTION_FIT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_msprt — always-valid sequential A/B test (mixture SPRT)
# ---------------------------------------------------------------------------

_MSPRT_TAU2 = 0.01  # N(0, tau^2) mixture prior on the mean difference
_MSPRT_ALPHA = 0.05


def analytic_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B test (mixture SPRT — Robbins 1970;
    Johari et al. KDD 2017): the fixed-horizon Welch test
    (``analytic_ab_test``) is valid only at one pre-registered n, and
    peeking at it daily inflates false positives. The mSPRT's mixture
    likelihood ratio Λ_n is a nonnegative martingale under H₀, so
    p_n = min(1, 1/max_{k≤n} Λ_k) is a valid p-value at EVERY day
    simultaneously — the number an experimentation platform can put
    on a live dashboard.

    Build: users hash-split exactly as ``analytic_ab_test``; per-day
    arm sufficient statistics are exact DECIMAL counts/sums/squares;
    cumulative stats come from a window over the tiny daily relation
    (calendar-bounded — the global window can never bottleneck, the
    ``wf_backfill_plan`` argument); per day with both arms at n ≥ 2,
    V = σ̂²_pooled·(1/N₀+1/N₁) and
    log Λ = ½·ln(V/(V+τ²)) + x̄²·τ²/(2·V·(V+τ²)), rounded 6dp
    BEFORE the running max in both engines; the always-valid p is
    exp(−running-max log Λ) capped at 1. One fact scan, one (day)
    aggregate, two calendar-sized windows."""
    ev = load(spark, sf_dir, "events")
    from ..operators._helpers import h32  # noqa: PLC0415

    v = h32(F.col("user_id").cast("string")) % 2
    x = F.col("value").cast("decimal(18,2)")
    daily = (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("d"), v.alias("v"), x.alias("x"))
        .groupBy("d")
        .agg(
            F.count(F.when(F.col("v") == 0, 1)).alias("dn0"),
            F.sum(F.when(F.col("v") == 0, F.col("x"))).alias("ds0"),
            F.sum(F.when(F.col("v") == 0, F.col("x") * F.col("x"))).alias("dss0"),
            F.count(F.when(F.col("v") == 1, 1)).alias("dn1"),
            F.sum(F.when(F.col("v") == 1, F.col("x"))).alias("ds1"),
            F.sum(F.when(F.col("v") == 1, F.col("x") * F.col("x"))).alias("dss1"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select(
        "d",
        F.sum("dn0").over(w).alias("n0"),
        F.sum("ds0").over(w).cast("double").alias("s0"),
        F.sum("dss0").over(w).cast("double").alias("ss0"),
        F.sum("dn1").over(w).alias("n1"),
        F.sum("ds1").over(w).cast("double").alias("s1"),
        F.sum("dss1").over(w).cast("double").alias("ss1"),
    )
    n0d, n1d = F.col("n0").cast("double"), F.col("n1").cast("double")
    mean_diff = F.col("s1") / n1d - F.col("s0") / n0d
    var_pool = (
        (F.col("ss0") - F.col("s0") * F.col("s0") / n0d)
        + (F.col("ss1") - F.col("s1") * F.col("s1") / n1d)
    ) / (n0d + n1d - 2)
    vv = var_pool * (1 / n0d + 1 / n1d)
    tau2 = F.lit(_MSPRT_TAU2)
    log_lam = F.round(
        0.5 * F.log(vv / (vv + tau2))
        + (mean_diff * mean_diff * tau2) / (2 * vv * (vv + tau2)),
        6,
    )
    stats = (
        cum.filter((F.col("n0") > 1) & (F.col("n1") > 1))
        .select(
            "d",
            F.col("n0").cast("bigint").alias("n0"),
            F.col("n1").cast("bigint").alias("n1"),
            F.round(mean_diff, 6).alias("mean_diff"),
            log_lam.alias("log_lambda"),
            var_pool.alias("_vp"),
        )
        .filter(F.col("_vp") > 0)
        .drop("_vp")
    )
    w2 = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p = F.round(F.least(F.lit(1.0), F.exp(-F.max("log_lambda").over(w2))), 6)
    return stats.select(
        "d", "n0", "n1", "mean_diff", "log_lambda",
        p.alias("always_valid_p"),
        (p < F.lit(_MSPRT_ALPHA)).alias("reject_h0"),
    ).orderBy("d")


ANALYTIC_MSPRT_ORACLE = f"""
WITH daily AS (
    SELECT strftime(ts, '%Y-%m-%d') AS d,
           ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS v,
           CAST(value AS DECIMAL(18,2)) AS x
    FROM events
),
agg AS (
    SELECT d,
           COUNT(*) FILTER (v = 0) AS dn0,
           SUM(x) FILTER (v = 0) AS ds0,
           SUM(x * x) FILTER (v = 0) AS dss0,
           COUNT(*) FILTER (v = 1) AS dn1,
           SUM(x) FILTER (v = 1) AS ds1,
           SUM(x * x) FILTER (v = 1) AS dss1
    FROM daily GROUP BY d
),
cum AS (
    SELECT d,
           CAST(SUM(dn0) OVER w AS BIGINT) AS n0,
           CAST(SUM(ds0) OVER w AS DOUBLE) AS s0,
           CAST(SUM(dss0) OVER w AS DOUBLE) AS ss0,
           CAST(SUM(dn1) OVER w AS BIGINT) AS n1,
           CAST(SUM(ds1) OVER w AS DOUBLE) AS s1,
           CAST(SUM(dss1) OVER w AS DOUBLE) AS ss1
    FROM agg
    WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
stats AS (
    SELECT d, n0, n1,
           round(s1 / n1 - s0 / n0, 6) AS mean_diff,
           round(0.5 * ln(vv / (vv + {_MSPRT_TAU2}))
                 + ((s1 / n1 - s0 / n0) * (s1 / n1 - s0 / n0) * {_MSPRT_TAU2})
                   / (2 * vv * (vv + {_MSPRT_TAU2})), 6) AS log_lambda
    FROM (
        SELECT *,
               (((ss0 - s0 * s0 / n0) + (ss1 - s1 * s1 / n1)) / (n0 + n1 - 2)) AS vp,
               (((ss0 - s0 * s0 / n0) + (ss1 - s1 * s1 / n1)) / (n0 + n1 - 2))
                 * (1.0 / n0 + 1.0 / n1) AS vv
        FROM cum WHERE n0 > 1 AND n1 > 1
    ) WHERE vp > 0
)
SELECT d, n0, n1, mean_diff, log_lambda,
       round(least(1.0, exp(-MAX(log_lambda) OVER w2)), 6) AS always_valid_p,
       round(least(1.0, exp(-MAX(log_lambda) OVER w2)), 6) < {_MSPRT_ALPHA} AS reject_h0
FROM stats
WINDOW w2 AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY d
"""

SPECS.append(
    QuerySpec(
        "analytic_msprt",
        analytic_msprt,
        ANALYTIC_MSPRT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# analytic_srm — sample-ratio-mismatch guardrail (per-day chi-square)
# ---------------------------------------------------------------------------

_SRM_CHI2_CRIT_1 = 3.841  # chi^2 upper 5% with 1 dof


def analytic_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch guardrail: before any experiment metric
    is read, the UNIT counts per arm must match the designed 50/50
    allocation — a skewed ratio means broken bucketing or differential
    logging loss, and invalidates every downstream test (the single
    most common silent failure in A/B platforms). Per day, distinct
    USERS per arm (not events — the unit of randomization is the
    user) are compared with a 1-dof chi-square against the expected
    even split, cumulatively over the experiment so far.

    Shapes: one (day, arm, user) distinct aggregate, then windows on
    the daily relation. The arm hash is the same h32 split every
    experiment op in this engine uses, so this guards exactly the
    cohorts ``analytic_ab_test`` / ``analytic_msprt`` read."""
    from ..operators._helpers import h32  # noqa: PLC0415

    ev = load(spark, sf_dir, "events")
    daily_users = (
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
            (h32(F.col("user_id").cast("string")) % 2).alias("v"),
            "user_id",
        )
        .distinct()
        .groupBy("d")
        .agg(
            F.count(F.when(F.col("v") == 0, 1)).alias("du0"),
            F.count(F.when(F.col("v") == 1, 1)).alias("du1"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily_users.select(
        "d",
        F.sum("du0").over(w).alias("u0"),
        F.sum("du1").over(w).alias("u1"),
    )
    n = (F.col("u0") + F.col("u1")).cast("double")
    exp_half = n / 2
    chi2 = F.round(
        (F.col("u0") - exp_half) * (F.col("u0") - exp_half) / exp_half
        + (F.col("u1") - exp_half) * (F.col("u1") - exp_half) / exp_half,
        6,
    )
    return cum.select(
        "d",
        F.col("u0").cast("bigint").alias("users_a"),
        F.col("u1").cast("bigint").alias("users_b"),
        chi2.alias("chi2"),
        (chi2 > F.lit(_SRM_CHI2_CRIT_1)).alias("srm_alarm"),
    ).orderBy("d")


ANALYTIC_SRM_ORACLE = f"""
WITH daily_users AS (
    SELECT d,
           COUNT(*) FILTER (v = 0) AS du0,
           COUNT(*) FILTER (v = 1) AS du1
    FROM (
        SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS d,
               ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS v,
               user_id
        FROM events
    ) GROUP BY d
),
cum AS (
    SELECT d,
           CAST(SUM(du0) OVER w AS BIGINT) AS u0,
           CAST(SUM(du1) OVER w AS BIGINT) AS u1
    FROM daily_users
    WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT d, u0 AS users_a, u1 AS users_b,
       round((u0 - (u0 + u1) / 2.0) * (u0 - (u0 + u1) / 2.0) / ((u0 + u1) / 2.0)
           + (u1 - (u0 + u1) / 2.0) * (u1 - (u0 + u1) / 2.0) / ((u0 + u1) / 2.0), 6)
           AS chi2,
       round((u0 - (u0 + u1) / 2.0) * (u0 - (u0 + u1) / 2.0) / ((u0 + u1) / 2.0)
           + (u1 - (u0 + u1) / 2.0) * (u1 - (u0 + u1) / 2.0) / ((u0 + u1) / 2.0), 6)
           > {_SRM_CHI2_CRIT_1} AS srm_alarm
FROM cum ORDER BY d
"""

SPECS.append(
    QuerySpec(
        "analytic_srm",
        analytic_srm,
        ANALYTIC_SRM_ORACLE,
    )
)
