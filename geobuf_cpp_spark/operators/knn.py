"""k-nearest-neighbor lookup over a distributed points table.

Two physical strategies, same exact semantics (ties broken by
(dist, point id) so results are deterministic):

* ``knn_broadcast`` — broadcast the query set, crossJoin + windowed top-k.
  Exact, one shuffle of (n_points x n_queries) pairs; right when the query
  set is small (the common online-serving shape).
* ``knn_distributed`` — the scale path mandated by BASELINE.json
  north_star: one-pass cell-disk candidate join with distance
  certification (any point outside Chebyshev ring r lies at degree
  distance >= r * min cell extent) and a lazy in-plan exact fallback for
  uncertified queries. Only cells near queries are ever touched, so cost
  is independent of the table's total extent, and there is no driver-side
  loop anywhere (an earlier round-looped variant, knn_cell_rings, was
  retired once this superseded it — git history has it).

Distance is squared Euclidean in degrees (pure arithmetic — identical in
Spark, numpy, and the DuckDB oracle; monotone in true planar distance).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.cells import cell_size_deg, sql_cell


def _dist2(lon_col, lat_col, qlon_col, qlat_col):
    dx = F.col(lon_col) - F.col(qlon_col)
    dy = F.col(lat_col) - F.col(qlat_col)
    return dx * dx + dy * dy


def _broadcast_topk(points_df, q, k: int):
    """The ``k`` nearest points of every query of the small frame ``q``
    (query_id, q_lon, q_lat): broadcast cross join + windowed top-k."""
    pairs = points_df.crossJoin(F.broadcast(q)).withColumn(
        "dist2", _dist2("lon", "lat", "q_lon", "q_lat")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(), F.col("point_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "point_id", "dist2")
    )


def knn_broadcast(points_df, queries_pdf: pd.DataFrame, k: int):
    """Exact kNN via broadcast cross join + windowed top-k."""
    q = points_df.sparkSession.createDataFrame(
        queries_pdf.rename(columns={"lon": "q_lon", "lat": "q_lat"})
    )
    return _broadcast_topk(points_df, q, k)


def knn_distributed(points_df, queries_df, k: int):
    """Exact kNN with BOTH sides as DataFrames and no driver-side loop.

    One pass: each query explodes to its Chebyshev-radius-2 disk of
    resolution-7 cells (pure JVM array expr), candidates arrive by cell
    equi-join, a window takes the per-query top-k with the certification
    flag computed in the SAME window partitioning (no extra shuffle).
    Queries whose kth distance is not certified by the searched disk
    (kth > 2 * min-cell-extent, or fewer than k candidates) fall back to a
    broadcast cross join — still set-exact, and the fallback set is a
    sliver.
    This is the shape that serves a large query TABLE without any
    driver-side per-query loop.

    The Q x k top-k intermediate is eagerly ``localCheckpoint``-ed:
    it feeds the certified output AND the fallback's anti-join, and
    truncating its lineage there keeps the points table at exactly two
    scans (candidate join + fallback) while shrinking downstream plan
    compilation — round 3's persist + aggregate-branch shape cost ~9s
    cold at sf0.1, mostly in codegen of re-derived branches.

    One bounded driver-side scalar (a count over the checkpointed Q x k
    rows plus an anti-join probe of the query table — O(Q), never O(table))
    decides whether any query needs the fallback; when none does (the
    common case at a sane radius) the fallback branch is not built at all,
    so the certified plan stays a single-scan pipeline.
    """
    from ..functions.cells import sql_ix, sql_iy, sql_ring_cells_grid

    min_extent, _ = cell_size_deg(7)
    certify2 = float((2 * min_extent) ** 2)

    # the query-side disk explode is a pure JVM array expression — no
    # Python stage anywhere in the certified path. Grid indices project
    # ONCE into named columns so the (2k+1)^2 disk array stays a small
    # expression (plan build/analyze cost, not a data-path change).
    disk = queries_df.selectExpr(
        "query_id",
        "lat AS q_lat",
        "lon AS q_lon",
        f"{sql_iy('lat', 7)} AS _giy",
        f"{sql_ix('lon', 7)} AS _gix",
    ).select(
        "query_id",
        "q_lat",
        "q_lon",
        F.explode(
            F.expr(sql_ring_cells_grid("_giy", "_gix", 7, 2))
        ).alias("cell"),
    )
    pts = points_df.withColumn("cell", F.expr(sql_cell("lat", "lon", 7)))
    cand = pts.join(disk, "cell").withColumn(
        "dist2", _dist2("lon", "lat", "q_lon", "q_lat")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(), F.col("point_id").asc()
    )
    # Certification rides the SAME partitioning as the top-k window: after
    # the rank cut, a second (unordered) window over query_id yields the
    # candidate count and the kth distance with no extra shuffle and no
    # separate aggregate branch — round 3's aggregate + broadcast-rejoin
    # shape cost ~9s cold at sf0.1 in plan compilation and job chaining.
    # STRICT bound: a point just outside the searched disk can sit at
    # exactly radius*min_extent and, under the (dist2, id) tie-break,
    # displace the kth result — ties at the certification radius must fall
    # back to the exact path.
    w_all = Window.partitionBy("query_id")
    topk = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn(
            "_cert",
            (F.count("*").over(w_all) >= k)
            & (F.max("dist2").over(w_all) < F.lit(certify2)),
        )
        .select("query_id", "rank", "point_id", "dist2", "_cert")
    )
    # topk (Q x k rows) feeds the certified output and the fallback's
    # anti-join; without materialization each branch re-executes the
    # candidate join — 3 scans of the points table in the final plan, which
    # at 100 TB is the whole cost. Checkpointed, the table is scanned at
    # most twice: candidate join + (only if needed) fallback.
    topk = topk.localCheckpoint(eager=True)
    certified = topk.filter("_cert").drop("_cert")

    # Bounded driver-side scalar over the materialized Q x k intermediate:
    # does ANY query need the exact fallback? (uncertified rows present, or
    # a query with zero candidates in its disk — absent from topk). O(Q).
    needs_fallback = (
        topk.filter(~F.col("_cert")).limit(1).count() > 0
        or queries_df.join(topk.select("query_id"), "query_id", "left_anti")
        .limit(1)
        .count()
        > 0
    )
    if not needs_fallback:
        return certified

    # Fallback: the uncertified queries — normally an empty sliver —
    # broadcast into a cross join with the full table, window top-k, union.
    certified_ids = topk.filter("_cert").select("query_id")
    uncertified_q = queries_df.join(
        F.broadcast(certified_ids), "query_id", "left_anti"
    ).selectExpr("query_id", "lat AS q_lat", "lon AS q_lon")
    return certified.unionByName(_broadcast_topk(points_df, uncertified_q, k))


def knn_geo(points_df, queries_df, k: int):
    """Exact GEODETIC kNN: nearest neighbors by great-circle distance.

    Both sides carry centidegree lattice coords (ix, iy); distance is
    the exact integer chord-squared on quantized unit-sphere vectors
    (``range_join.sql_sphere_xyz`` — monotone with great-circle, so the
    top-k set and order equal true geodesic kNN), with (c2, point id)
    tie-break for determinism. Broadcast query set + windowed top-k,
    the online-serving shape of ``knn_broadcast`` made sphere-correct:
    near the poles or across the antimeridian the planar variant ranks
    wrongly, the chord never does.
    """
    from ..plans.partitioning import spread
    from .range_join import sql_sphere_xyz

    # spread the points before the broadcast cross join: the partial
    # top-k (WindowGroupLimit) parallelizes per input partition, and a
    # single-file scan would otherwise sort points x queries on one core
    p = spread(points_df).selectExpr("point_id", *sql_sphere_xyz())
    q = queries_df.selectExpr("query_id", *sql_sphere_xyz(prefix="q"))
    dx = F.col("sx") - F.col("qx")
    dy = F.col("sy") - F.col("qy")
    dz = F.col("sz") - F.col("qz")
    pairs = p.crossJoin(F.broadcast(q)).withColumn(
        "c2", dx * dx + dy * dy + dz * dz)
    w = Window.partitionBy("query_id").orderBy(
        F.col("c2").asc(), F.col("point_id").asc())
    # filter on the raw row_number so the WindowGroupLimit rewrite fires
    # (a cast between row_number and the rank predicate defeats the
    # pattern match and the window sorts every pair instead of top-k)
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "point_id", "c2")
    )
