"""Geospatial surface: cell-bucketed spatial joins.

The reference has no spatial operator; this family exists because a
100 TB engine is routinely asked "which points are near which" and
the naive answer — an inequality join on coordinates — plans as a
cross product. The scale-correct pattern (Sedona/PostGIS-style) is
the one the engine already uses for time-range joins
(`join_range_events`) and ANN buckets: quantize space into grid
cells, explode ONE side to its neighbor cells, equi-join on the cell
id, then apply the exact distance predicate to candidates only. Cost
is linear in cell occupancy; the cross product never exists.

Coordinates are synthesized deterministically from entity keys with
the engine's shared h32 hash, so BOTH engines derive identical
points and the oracle is exact (TESTDATA has no native coordinates).
The distance metric is planar squared-degrees — multiplications and
additions only, bit-identical across engines; swapping in haversine
changes one expression, not the plan shape (transcendental libm
results are not bit-portable, which matters for the ORACLE, not for
production use).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..spec import QuerySpec
from ._helpers import h32

# grid cell edge in degrees; radius must be <= cell edge so a 3x3
# neighborhood is a complete candidate cover
CELL_DEG = 1.0
RADIUS_DEG = 0.8
RADIUS_SQ = RADIUS_DEG * RADIUS_DEG

H32_SQL = "('0x' || substring(md5({x}), 1, 8))::BIGINT"


def _lat(key: Column) -> Column:
    return (h32(F.concat(F.lit("lat|"), key)) % 160000) / 1000.0 - 80.0


def _lon(key: Column) -> Column:
    return (h32(F.concat(F.lit("lon|"), key)) % 360000) / 1000.0 - 180.0


def _lat_sql(x: str) -> str:
    h = H32_SQL.format(x="'lat|' || " + x)
    return f"({h} % 160000) / 1000.0 - 80.0"


def _lon_sql(x: str) -> str:
    h = H32_SQL.format(x="'lon|' || " + x)
    return f"({h} % 360000) / 1000.0 - 180.0"


def geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join: every (supplier, customer) pair within
    RADIUS_DEG of each other, via grid-cell blocking.

    Suppliers (the smaller side) explode to their 3×3 neighbor cells;
    customers carry their single home cell; the equi-join on
    (cell_x, cell_y) generates each candidate pair exactly once, and
    the exact squared-distance predicate keeps true neighbors. With
    radius ≤ cell edge the 3×3 cover is complete — no recall loss.
    At 100 TB the join shuffles on cell ids (dense, uniformly-sized
    keys) instead of planning BroadcastNestedLoop over raw
    coordinates; skewed cells (cities) are ordinary skewed-key
    territory, handled by AQE or salting like any hot key."""
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _lat(F.col("s_suppkey").cast("string")).alias("s_lat"),
        _lon(F.col("s_suppkey").cast("string")).alias("s_lon"),
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        _lat(F.col("c_custkey").cast("string")).alias("c_lat"),
        _lon(F.col("c_custkey").cast("string")).alias("c_lon"),
    )
    s_cells = supp.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.floor(F.col("s_lat") / CELL_DEG) + dx).alias("cx"),
                        (F.floor(F.col("s_lon") / CELL_DEG) + dy).alias("cy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("cell"),
    ).select("s_suppkey", "s_lat", "s_lon", "cell.cx", "cell.cy")
    c_cells = cust.select(
        "*",
        F.floor(F.col("c_lat") / CELL_DEG).alias("cx"),
        F.floor(F.col("c_lon") / CELL_DEG).alias("cy"),
    )
    d2 = (F.col("s_lat") - F.col("c_lat")) * (F.col("s_lat") - F.col("c_lat")) + (
        F.col("s_lon") - F.col("c_lon")
    ) * (F.col("s_lon") - F.col("c_lon"))
    return (
        s_cells.join(c_cells, ["cx", "cy"])
        .filter(d2 <= RADIUS_SQ)
        .select("s_suppkey", "c_custkey", d2.alias("dist_sq"))
    )


GEO_RADIUS_JOIN_ORACLE = f"""
WITH supp AS (
    SELECT s_suppkey,
           {_lat_sql("CAST(s_suppkey AS VARCHAR)")} AS s_lat,
           {_lon_sql("CAST(s_suppkey AS VARCHAR)")} AS s_lon
    FROM supplier
), cust AS (
    SELECT c_custkey,
           {_lat_sql("CAST(c_custkey AS VARCHAR)")} AS c_lat,
           {_lon_sql("CAST(c_custkey AS VARCHAR)")} AS c_lon
    FROM customer
)
SELECT s_suppkey, c_custkey,
       (s_lat - c_lat) * (s_lat - c_lat) + (s_lon - c_lon) * (s_lon - c_lon)
           AS dist_sq
FROM supp, cust
WHERE (s_lat - c_lat) * (s_lat - c_lat) + (s_lon - c_lon) * (s_lon - c_lon)
      <= {RADIUS_SQ!r}
"""

SPECS = [
    QuerySpec(
        "geo_radius_join",
        geo_radius_join,
        GEO_RADIUS_JOIN_ORACLE,
    ),
]


KNN_K = 3


def geo_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-bounded k-nearest-neighbor join: for each supplier, its
    KNN_K nearest customers WITHIN the 3×3 cell neighborhood
    (candidates beyond one cell away are by definition farther than
    CELL_DEG, so for k small relative to cell occupancy the cover is
    the whole answer; the radius bound is the documented contract,
    exactly like ANN recall bounds in `sim_lsh_ann`). Ranking is a
    per-supplier window over the candidate set only — the window
    never sees the full cross space. Deterministic tiebreak
    (dist_sq, c_custkey)."""
    from pyspark.sql import Window  # noqa: PLC0415

    cand = geo_radius_join(spark, sf_dir)
    w = Window.partitionBy("s_suppkey").orderBy("dist_sq", "c_custkey")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("s_suppkey", "c_custkey", "dist_sq", F.col("rank").cast("int").alias("rank"))
    )


GEO_KNN_JOIN_ORACLE = f"""
WITH cand AS ({GEO_RADIUS_JOIN_ORACLE})
SELECT s_suppkey, c_custkey, dist_sq,
       CAST(ROW_NUMBER() OVER (PARTITION BY s_suppkey
                               ORDER BY dist_sq, c_custkey) AS INTEGER) AS rank
FROM cand
QUALIFY rank <= {KNN_K}
"""

SPECS.append(
    QuerySpec(
        "geo_knn_join",
        geo_knn_join,
        GEO_KNN_JOIN_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# geo_point_in_polygon — row-local ray-casting containment
# ---------------------------------------------------------------------------

# Non-self-intersecting pentagon in degree space; NO horizontal edge
# (adjacent vertices never share a y), so the crossing test's division
# is never by zero — ANSI-safe without guards.
POLY = [(0.0, 0.0), (40.0, 10.0), (50.0, 50.0), (10.0, 60.0), (-20.0, 30.0)]


def _pip_terms_spark(x, y):
    """Ray-casting crossing count as a SUM OF STATIC EDGE TERMS —
    completely row-local (no explode, no join): both engines build the
    identical IEEE expression from the same vertex list."""
    terms = None
    n = len(POLY)
    for i in range(n):
        x1, y1 = POLY[i]
        x2, y2 = POLY[(i + 1) % n]
        crosses = ((F.lit(y1) > y) != (F.lit(y2) > y)) & (
            x
            < (F.lit(x2) - F.lit(x1)) * (y - F.lit(y1)) / (F.lit(y2) - F.lit(y1))
            + F.lit(x1)
        )
        t = F.when(crosses, 1).otherwise(0)
        terms = t if terms is None else terms + t
    return terms


def _pip_terms_sql(x: str, y: str) -> str:
    parts = []
    n = len(POLY)
    for i in range(n):
        x1, y1 = POLY[i]
        x2, y2 = POLY[(i + 1) % n]
        parts.append(
            f"(CASE WHEN (({y1} > {y}) != ({y2} > {y})) AND "
            f"({x} < ({x2} - {x1}) * ({y} - {y1}) / ({y2} - {y1}) + {x1}) "
            f"THEN 1 ELSE 0 END)"
        )
    return " + ".join(parts)


def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon containment (ray casting) for every customer
    against a fixed 5-vertex region — the geofencing primitive the
    radius/kNN pair doesn't cover. The crossing count is a sum of
    five STATIC edge terms generated from one shared vertex list, so
    the whole test is a row-local projection fused into the scan: no
    explode, no join, no shuffle before the final ordering — the
    embarrassing-parallel shape geofencing needs at 100 TB (a real
    multi-polygon fence adds a cell-bucketed polygon-candidate join in
    front, exactly `geo_radius_join`'s blocking pattern; the per-pair
    test stays this expression)."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    key = F.col("c_custkey").cast("string")
    lat, lon = _lat(key), _lon(key)
    pts = cust.select(
        "c_custkey",
        F.round(lat, 3).alias("lat"),
        F.round(lon, 3).alias("lon"),
        (_pip_terms_spark(lon, lat) % 2 == 1).alias("inside"),
    )
    return pts.filter("inside").select("c_custkey", "lat", "lon").orderBy(
        "c_custkey"
    )


def _pip_oracle() -> str:
    lat = _lat_sql("CAST(c_custkey AS VARCHAR)")
    lon = _lon_sql("CAST(c_custkey AS VARCHAR)")
    return f"""
WITH pts AS (
    SELECT c_custkey,
           round({lat}, 3) AS lat,
           round({lon}, 3) AS lon,
           ({_pip_terms_sql(f"({lon})", f"({lat})")}) % 2 = 1 AS inside
    FROM customer
)
SELECT c_custkey, lat, lon FROM pts WHERE inside ORDER BY c_custkey
"""


SPECS.append(
    QuerySpec(
        "geo_point_in_polygon",
        geo_point_in_polygon,
        _pip_oracle(),
    )
)


# ---------------------------------------------------------------------------
# geo_geohash_encode — closed-form integer geohash + prefix bucketing
# ---------------------------------------------------------------------------

GH_CHARS = 6                       # geohash precision (~1.2 km cells)
GH_BITS = 5 * GH_CHARS             # 30 bits: 15 lon + 15 lat
GH_HALF = GH_BITS // 2
_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _gh_expr(lon_idx: str, lat_idx: str) -> str:
    """SQL text computing the geohash string from quantized lon/lat
    cell indices — bit interleave (lon first, per the geohash spec)
    then base32 via substring on the alphabet literal. The SAME text
    runs in Spark (F.expr) and DuckDB, so the encode is bit-identical
    by construction, not by luck."""
    bits = []
    for k in range(GH_BITS):
        if k % 2 == 0:  # even positions take longitude bits, MSB first
            shift = GH_HALF - 1 - k // 2
            src = lon_idx
        else:
            shift = GH_HALF - 1 - (k - 1) // 2
            src = lat_idx
        bits.append(f"((({src} >> {shift}) & 1) << {GH_BITS - 1 - k})")
    val = " | ".join(bits)
    chars = [
        f"substring('{_GH_ALPHABET}', CAST(((({val}) >> {GH_BITS - 5 * (c + 1)}) & 31) "
        f"AS INTEGER) + 1, 1)"
        for c in range(GH_CHARS)
    ]
    return " || ".join(chars)


def geo_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash encoding — the prefix-index primitive under spatial
    bucketing (a shared prefix = a shared cell, so equality on a
    geohash prefix is a spatial join key; this is the string-keyed
    sibling of the integer grid cells `geo_radius_join` blocks on).

    The encode is CLOSED-FORM integer arithmetic end to end: the
    fixture coordinates are exact milli-degree integers, quantized to
    15-bit cell indices with integer div, interleaved and base32'd by
    ONE generated SQL expression shared verbatim by both engines.
    Per-row narrow map plus one hash agg for the 4-char-prefix
    occupancy (the bucketing readout); scales like any projection."""
    key = F.col("c_custkey").cast("string")
    lat_mdeg = (h32(F.concat(F.lit("lat|"), key)) % 160000 - 80000).cast("bigint")
    lon_mdeg = (h32(F.concat(F.lit("lon|"), key)) % 360000 - 180000).cast("bigint")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        lat_mdeg.alias("lat_mdeg"),
        lon_mdeg.alias("lon_mdeg"),
    ).withColumn(
        "lat_idx", F.expr(f"((lat_mdeg + 90000) * {1 << GH_HALF}) div 180000")
    ).withColumn(
        "lon_idx", F.expr(f"((lon_mdeg + 180000) * {1 << GH_HALF}) div 360000")
    ).withColumn("geohash", F.expr(_gh_expr("lon_idx", "lat_idx")))
    w = Window.partitionBy(F.substring("geohash", 1, 4))
    return cust.select(
        "c_custkey",
        "lat_mdeg",
        "lon_mdeg",
        "geohash",
        F.substring("geohash", 1, 4).alias("gh4"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("gh4_occupancy"),
    )


def _geohash_oracle() -> str:
    lat_h = H32_SQL.format(x="'lat|' || CAST(c_custkey AS VARCHAR)")
    lon_h = H32_SQL.format(x="'lon|' || CAST(c_custkey AS VARCHAR)")
    return f"""
WITH pts AS (
    SELECT c_custkey,
           CAST({lat_h} % 160000 - 80000 AS BIGINT) AS lat_mdeg,
           CAST({lon_h} % 360000 - 180000 AS BIGINT) AS lon_mdeg
    FROM customer
),
idx AS (
    SELECT *,
           ((lat_mdeg + 90000) * {1 << GH_HALF}) // 180000 AS lat_idx,
           ((lon_mdeg + 180000) * {1 << GH_HALF}) // 360000 AS lon_idx
    FROM pts
),
enc AS (
    SELECT c_custkey, lat_mdeg, lon_mdeg,
           {_gh_expr("lon_idx", "lat_idx")} AS geohash
    FROM idx
)
SELECT c_custkey, lat_mdeg, lon_mdeg, geohash,
       substring(geohash, 1, 4) AS gh4,
       CAST(COUNT(*) OVER (PARTITION BY substring(geohash, 1, 4)) AS BIGINT)
           AS gh4_occupancy
FROM enc
"""


SPECS.append(
    QuerySpec(
        "geo_geohash_encode",
        geo_geohash_encode,
        _geohash_oracle(),
    )
)
