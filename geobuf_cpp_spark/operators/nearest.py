"""Nearest-region assignment — every point to its closest admin box.

The reverse-geocoding companion of the PIP join (operators/pip_join.py):
containment answers "which region am I in", this answers "which region
is closest" for points that fall in no region (offshore coordinates,
boundary gaps) — the assignment step a geocoding pipeline runs after
containment misses. Reference tie-in: geobuf-cpp's cell machinery
serves exactly this lookup shape once geometries are indexed
(/root/reference/README.md:17 query framing).

Scale plan: the admin side is a broadcastable dimension (thousands of
rows at most), so the pairing is a broadcast nested-loop over a
dimension of bounded size — the corpus side never shuffles, and the
per-point reduction is a single min(struct) hash aggregate on the
point id (map-side partial). Distance is the clamped axis distance to
the closed box in exact BIGINT (zero float drift cross-engine);
antimeridian wrap is out of scope here (see range_join.wrap_x for the
ghosting pattern if needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def nearest_box(points: DataFrame, boxes: DataFrame) -> DataFrame:
    """(point_id, admin_id, d2): closest box by squared clamped axis
    distance, ties broken by the smaller admin_id. Points inside a box
    get d2 = 0 (distance to the CLOSED box — both edges inclusive)."""
    from ..plans.partitioning import spread

    points = spread(points)  # parallelize the map-side min(struct) partial
    dx = F.greatest(
        F.col("lon0") - F.col("ix"),
        F.col("ix") - F.col("lon1"),
        F.lit(0),
    ).cast("long")
    dy = F.greatest(
        F.col("lat0") - F.col("iy"),
        F.col("iy") - F.col("lat1"),
        F.lit(0),
    ).cast("long")
    pairs = points.crossJoin(F.broadcast(boxes)).withColumn(
        "d2", dx * dx + dy * dy
    )
    # lexicographic struct-min = (min d2, then min admin_id): one
    # hash aggregate with map-side partials, no window, no shuffle of
    # anything wider than (id, best-struct)
    return (
        pairs.groupBy("point_id")
        .agg(F.min(F.struct("d2", "admin_id")).alias("_b"))
        .select(
            "point_id",
            F.col("_b.admin_id").alias("admin_id"),
            F.col("_b.d2").alias("d2"),
        )
    )


def nearest_center_geo(points: DataFrame, centers: DataFrame) -> DataFrame:
    """(point_id, admin_id, c2): closest admin CENTER by great-circle
    distance — exact integer chord-squared on quantized unit-sphere
    vectors (range_join.sql_sphere_xyz), monotone with the geodesic, so
    the argmin equals true geodesic nearest. The geodetic sibling of
    ``nearest_box``: same broadcast-dimension + min(struct) map-side
    aggregate (corpus never shuffles), but correct where planar axis
    distance is not — near the poles and across the antimeridian (the
    chord metric needs no ghosting: lon periodicity is built into the
    sphere coordinates). Centers (not boxes): geodesic point-to-box
    distance has no exact integer form; center assignment is the
    standard reverse-geocode coarse step. Ties break to the smaller
    admin_id. Both inputs carry centidegree lattice (ix, iy).
    """
    from ..plans.partitioning import spread
    from .range_join import sql_sphere_xyz

    # spread before the broadcast cross join: the map-side partial of
    # the min(struct) aggregate parallelizes per input partition
    p = spread(points).selectExpr("point_id", *sql_sphere_xyz())
    c = centers.selectExpr("admin_id", *sql_sphere_xyz(prefix="q"))
    dx = F.col("sx") - F.col("qx")
    dy = F.col("sy") - F.col("qy")
    dz = F.col("sz") - F.col("qz")
    pairs = p.crossJoin(F.broadcast(c)).withColumn(
        "c2", dx * dx + dy * dy + dz * dz)
    return (
        pairs.groupBy("point_id")
        .agg(F.min(F.struct("c2", "admin_id")).alias("_b"))
        .select(
            "point_id",
            F.col("_b.admin_id").alias("admin_id"),
            F.col("_b.c2").alias("c2"),
        )
    )
