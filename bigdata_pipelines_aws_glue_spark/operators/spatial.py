"""Grid-binned spatial nearest-neighbor join.

Vanilla Spark has no spatial index; the standard scale pattern
(Sedona/GeoSpark's core idea, Zhang et al.) is GRID BINNING: hash
both point sets to integer cells of side G, replicate each probe
point into its 3x3 cell neighborhood, equi-join on the cell, and
resolve the nearest candidate per probe. With radius R <= G the
neighborhood provably contains every point within R (a point farther
than one cell away is farther than G), so the result is EXACT — no
candidate outside the 9 cells can win. Both shuffles are keyed
(cell, then probe id); per-cell fan-out is bounded by point density,
the same skew profile as any keyed join (salt a pathological mega-
cell if one appears).

Geometry is deliberately planar (degrees treated as a flat plane,
squared Euclidean distance, NO sqrt and NO trig): haversine would
drag libm sin/cos into every comparison for zero additional test
power, and comparing SQUARED distances avoids the sqrt entirely.
Coordinates are synthesized from key congruences scaled by /100 —
exact-int-over-100 doubles both engines rebuild identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import stable_round
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

#: cell side and search radius in degrees; R <= G is the exactness
#: precondition of the 3x3 neighborhood (see module docstring).
GRID_DEG = 1.0
RADIUS2 = 1.0  # R^2 with R = 1.0 = G


def _synth_points(df: DataFrame, key: str) -> DataFrame:
    """Deterministic planar coordinates from a bigint key:
    lat in [-85, 85), lon in [-180, 180), both on a 0.01-degree
    lattice (exact int / 100)."""
    lat = ((F.col(key) * 37) % 17000).cast("double") / 100.0 - 85.0
    lon = ((F.col(key) * 73) % 36000).cast("double") / 100.0 - 180.0
    return df.select(F.col(key), lat.alias("lat"), lon.alias("lon"))


def grid_nearest_join(
    probes: DataFrame, points: DataFrame, probe_key: str, point_key: str
) -> DataFrame:
    """For each probe, the nearest point within RADIUS2 (squared
    planar distance), ties broken by point key; probes with no point
    in range keep NULLs (left-outer)."""
    cell = lambda c: F.floor(c / F.lit(GRID_DEG)).cast("long")  # noqa: E731
    pts = points.select(
        F.col(point_key),
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
        cell(F.col("lat")).alias("cx"),
        cell(F.col("lon")).alias("cy"),
    )
    offsets = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    ).alias("o")
    probed = probes.select(
        F.col(probe_key), "lat", "lon",
        cell(F.col("lat")).alias("bx"),
        cell(F.col("lon")).alias("by"),
        offsets,
    ).select(
        probe_key, "lat", "lon",
        (F.col("bx") + F.col("o.dx")).alias("cx"),
        (F.col("by") + F.col("o.dy")).alias("cy"),
    )
    cand = probed.join(pts, ["cx", "cy"])
    dlat = F.col("lat") - F.col("p_lat")
    dlon = F.col("lon") - F.col("p_lon")
    d2 = dlat * dlat + dlon * dlon
    in_range = cand.withColumn("d2", d2).filter(F.col("d2") <= F.lit(RADIUS2))
    w = Window.partitionBy(probe_key).orderBy(
        F.col("d2").asc(), F.col(point_key).asc()
    )
    best = (
        in_range.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(probe_key, point_key, "d2")
    )
    return probes.select(probe_key, "lat", "lon").join(
        best, probe_key, "left"
    )


def spatial_nearest_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: nearest supplier depot within 1 degree of each
    customer location (both synthesized on the 0.01-degree lattice).
    Exactness of the grid pruning is pytest-pinned against a
    brute-force cross join at sf0.001."""
    cust = _synth_points(
        load_table(spark, sf_dir, "customer"), "c_custkey"
    )
    supp = _synth_points(
        load_table(spark, sf_dir, "supplier"), "s_suppkey"
    )
    out = grid_nearest_join(cust, supp, "c_custkey", "s_suppkey")
    return out.select(
        "c_custkey",
        stable_round(F.col("lat"), 2).alias("lat"),
        stable_round(F.col("lon"), 2).alias("lon"),
        "s_suppkey",
        stable_round(F.col("d2"), 9).alias("dist2"),
    )


SPATIAL_ORACLE = """
WITH cust AS (
    SELECT c_custkey,
           CAST((c_custkey * 37) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat,
           CAST((c_custkey * 73) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon
    FROM customer
),
supp AS (
    SELECT s_suppkey,
           CAST((s_suppkey * 37) % 17000 AS DOUBLE) / 100.0 - 85.0 AS p_lat,
           CAST((s_suppkey * 73) % 36000 AS DOUBLE) / 100.0 - 180.0 AS p_lon
    FROM supplier
),
cand AS (
    SELECT c.c_custkey, c.lat, c.lon, s.s_suppkey,
           (c.lat - s.p_lat) * (c.lat - s.p_lat)
             + (c.lon - s.p_lon) * (c.lon - s.p_lon) AS d2
    FROM cust c JOIN supp s
      ON abs(floor(c.lat / 1.0) - floor(s.p_lat / 1.0)) <= 1
     AND abs(floor(c.lon / 1.0) - floor(s.p_lon / 1.0)) <= 1
    WHERE (c.lat - s.p_lat) * (c.lat - s.p_lat)
            + (c.lon - s.p_lon) * (c.lon - s.p_lon) <= 1.0
),
best AS (
    SELECT c_custkey, s_suppkey, d2,
           row_number() OVER (PARTITION BY c_custkey
                              ORDER BY d2 ASC, s_suppkey ASC) AS rn
    FROM cand
)
SELECT c.c_custkey,
       floor(c.lat * 100.0 + 0.5) / 100.0 AS lat,
       floor(c.lon * 100.0 + 0.5) / 100.0 AS lon,
       b.s_suppkey,
       floor(b.d2 * 1000000000.0 + 0.5) / 1000000000.0 AS dist2
FROM cust c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (c_custkey)
"""




# ---------------------------------------------------------------------------
# Point-in-polygon census (ray casting, exactness by lattice separation)
# ---------------------------------------------------------------------------

#: Literal polygons over the synthesized coordinate domain
#: (lat in [-85, 85), lon in [-180, 180)): a triangle, a convex quad,
#: and a CONCAVE pentagon (the concavity is what makes crossing
#: parity a real test — a bounding-box check would miss it).
#:
#: Exactness: point coordinates live on the 0.01-degree lattice
#: (exact int/100 doubles); every polygon vertex is offset to a
#: .005 half-cell, so (a) no point ever lies ON an edge and (b) no
#: point's latitude ever EQUALS a vertex latitude — the two classic
#: ray-casting degeneracies are structurally impossible, and the one
#: division per crossing test compares values separated by >> 1 ulp,
#: so both engines' IEEE doubles decide identically.
_POLYGONS: dict[int, list[tuple[float, float]]] = {
    # (lat, lon) vertices, counter-clockwise
    1: [(-20.005, -60.005), (30.005, -100.005), (60.005, -20.005)],
    2: [(-60.005, 20.005), (-60.005, 120.005), (10.005, 120.005),
        (10.005, 20.005)],
    3: [(-80.005, -170.005), (-10.005, -160.005), (-70.005, -120.005),
        (-10.005, -80.005), (-80.005, -70.005)],
}


def _polygon_edges() -> list[tuple[int, float, float, float, float]]:
    out = []
    for pid, verts in _POLYGONS.items():
        for i, (y1, x1) in enumerate(verts):
            y2, x2 = verts[(i + 1) % len(verts)]
            out.append((pid, y1, x1, y2, x2))
    return out


def spatial_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon containment census: how many customer locations fall
    inside each literal polygon, by RAY CASTING (the even-odd rule —
    Shimrat, CACM 1962; Franklin's PNPOLY formulation): a point is
    inside iff a horizontal ray eastward crosses the boundary an odd
    number of times.

    Distribution shape: the edge table is a LITERAL (12 edges) —
    broadcast; the crossing test is one non-equi broadcast join
    (points x edges, bounded fan-out x12), a per-(point, polygon)
    parity count, and a polygon-bounded final aggregate. At 100 TB
    this is map-dominated work against a dozen broadcast rows.

    The crossing predicate is PNPOLY's half-open rule
    ``(y1 > py) != (y2 > py) AND px < x1 + (py-y1)(x2-x1)/(y2-y1)``
    — exact here by the lattice/half-cell separation documented on
    ``_POLYGONS``."""
    cust = _synth_points(load_table(spark, sf_dir, "customer"), "c_custkey")
    edges = F.broadcast(
        local_frame(
            spark,
            _polygon_edges(),
            "pid int, y1 double, x1 double, y2 double, x2 double",
        )
    )
    py, px = F.col("lat"), F.col("lon")
    crossing = (
        ((F.col("y1") > py) != (F.col("y2") > py))
        & (
            px
            < F.col("x1")
            + (py - F.col("y1"))
            * (F.col("x2") - F.col("x1"))
            / (F.col("y2") - F.col("y1"))
        )
    )
    hits = cust.join(edges, crossing).groupBy("c_custkey", "pid").agg(
        F.count(F.lit(1)).alias("n_cross")
    )
    inside = hits.filter(F.col("n_cross") % 2 == 1)
    totals = cust.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    return (
        inside.groupBy("pid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inside"))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("pid").alias("polygon_id"),
            "n_inside",
            "n_points",
            stable_round(
                F.col("n_inside").cast("double")
                / F.col("n_points").cast("double"),
                6,
            ).alias("share_inside"),
        )
    )


def _pip_oracle() -> str:
    rows = ", ".join(
        f"({pid}, {y1}, {x1}, {y2}, {x2})"
        for pid, y1, x1, y2, x2 in _polygon_edges()
    )
    return f"""
WITH cust AS (
    SELECT c_custkey,
           CAST((c_custkey * 37) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat,
           CAST((c_custkey * 73) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon
    FROM customer
),
edges(pid, y1, x1, y2, x2) AS (VALUES {rows}),
hits AS (
    SELECT c.c_custkey, e.pid, count(*) AS n_cross
    FROM cust c JOIN edges e
      ON ((e.y1 > c.lat) <> (e.y2 > c.lat))
     AND c.lon < e.x1 + (c.lat - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)
    GROUP BY 1, 2
),
inside AS (SELECT pid, count(*) AS n_inside FROM hits
           WHERE n_cross % 2 = 1 GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM cust)
SELECT CAST(i.pid AS INTEGER) AS polygon_id,
       CAST(i.n_inside AS BIGINT) AS n_inside,
       t.n_points,
       floor(CAST(i.n_inside AS DOUBLE) / CAST(t.n_points AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS share_inside
FROM inside i CROSS JOIN tot t
"""


def _register() -> None:
    registry.register(
        "spatial_nearest_grid", spatial_nearest_grid, SPATIAL_ORACLE
    )
    registry.register(
        "spatial_point_in_polygon", spatial_point_in_polygon, _pip_oracle()
    )
