"""Raster <-> vector tile materialization at zoom-bucketed resolutions.

* ``assign_tiles`` — z/x/y slippy tile ids per point (equirectangular y:
  pure arithmetic, identical in the DuckDB oracle; Web-Mercator variant
  available for real map serving, pytest-verified against known goldens).
* ``rasterize_tiles`` — groupBy(z,x,y).applyInPandas: per-tile fixed-size
  count grid (the raster), computed with one 2-D histogram per tile.
* ``vectorize_raster`` — nonzero raster pixels back to vector bbox
  polygons (wire-shaped geometry struct), one row per pixel.

Tile assignment + per-tile grouping is the layout stage for the 100 TB
case: ``repartition`` on the tile id keeps each tile's features co-located
so materialization is a single shuffle; hot tiles split by AQE skew join /
salting helpers in plans.partitioning.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..functions.cells import sql_equirect_tile_x, sql_equirect_tile_y
from ..functions.geometry import GEOM_STRUCT


def assign_tiles(points_df, z: int, lon_col: str = "lon", lat_col: str = "lat"):
    return points_df.withColumn("z", F.lit(z)).withColumn(
        "tx", F.expr(sql_equirect_tile_x(lon_col, z))
    ).withColumn("ty", F.expr(sql_equirect_tile_y(lat_col, z)))


RASTER_SCHEMA = "z int, tx bigint, ty bigint, n_points long, grid array<long>"


def rasterize_tiles(points_df, z: int, grid: int = 16,
                    lon_col: str = "lon", lat_col: str = "lat"):
    """Per-tile count raster: ``grid x grid`` int64 histogram, row-major."""
    tiles = assign_tiles(points_df, z, lon_col, lat_col)
    n = 1 << z

    def rasterize(pdf: pd.DataFrame) -> pd.DataFrame:
        tx = int(pdf["tx"].iloc[0])
        ty = int(pdf["ty"].iloc[0])
        # pixel coords within the tile (equirect fractions)
        fx = (pdf[lon_col].to_numpy(dtype=np.float64) + 180.0) / 360.0 * n - tx
        fy = (90.0 - pdf[lat_col].to_numpy(dtype=np.float64)) / 180.0 * n - ty
        px = np.clip((fx * grid).astype(np.int64), 0, grid - 1)
        py = np.clip((fy * grid).astype(np.int64), 0, grid - 1)
        hist = np.zeros((grid, grid), dtype=np.int64)
        np.add.at(hist, (py, px), 1)
        return pd.DataFrame(
            [
                {
                    "z": z,
                    "tx": tx,
                    "ty": ty,
                    "n_points": len(pdf),
                    "grid": hist.ravel().tolist(),
                }
            ]
        )

    return tiles.groupBy("tx", "ty").applyInPandas(rasterize, RASTER_SCHEMA)


VECTOR_SCHEMA = (
    f"z int, tx bigint, ty bigint, px int, py int, count long, geom {GEOM_STRUCT}"
)


def vectorize_raster(raster_df, grid: int = 16):
    """Nonzero raster pixels -> vector bbox polygons (wire structs)."""

    def vectorize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, tx, ty, flat in zip(pdf["z"], pdf["tx"], pdf["ty"], pdf["grid"]):
                n = 1 << int(z)
                hist = np.asarray(flat, dtype=np.int64).reshape(grid, grid)
                for py, px in zip(*np.nonzero(hist)):
                    lon0 = (tx + px / grid) / n * 360.0 - 180.0
                    lon1 = (tx + (px + 1) / grid) / n * 360.0 - 180.0
                    lat1 = 90.0 - (ty + py / grid) / n * 180.0
                    lat0 = 90.0 - (ty + (py + 1) / grid) / n * 180.0
                    ring = [lon0, lat0, lon1, lat0, lon1, lat1, lon0, lat1, lon0, lat0]
                    rows.append(
                        {
                            "z": int(z),
                            "tx": int(tx),
                            "ty": int(ty),
                            "px": int(px),
                            "py": int(py),
                            "count": int(hist[py, px]),
                            "geom": {
                                "type": 4,
                                "dim": 2,
                                "lengths": [5],
                                "coords": ring,
                            },
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "px", "py", "count", "geom"]
            )

    return raster_df.mapInPandas(vectorize, VECTOR_SCHEMA)


def sql_box_tile_clip(z: int) -> dict:
    """Shared clip formulas (SQL text) for axis-aligned boxes against the
    z-level equirectangular tile grid — executed verbatim by Spark and
    the DuckDB oracle, so the clip arithmetic cannot drift.

    Tile width/height (360/2^z, 180/2^z degrees) are exact binary
    doubles for any practical z, and the clip is min/max/subtract on the
    shared inputs — deterministic IEEE arithmetic in both engines.
    Half-open boxes [lo, hi): a box touching a tile only at its boundary
    clips to width 0 and is filtered out.
    """
    n = 1 << z
    tw = repr(360.0 / n)
    th = repr(180.0 / n)
    return {
        "tx0": sql_equirect_tile_x("lon0", z),
        "tx1": sql_equirect_tile_x("lon1", z),
        "ty0": sql_equirect_tile_y("lat1", z),   # top edge -> smallest ty
        "ty1": sql_equirect_tile_y("lat0", z),
        "w": (f"LEAST(lon1, (tx + 1) * {tw} - 180.0) - "
              f"GREATEST(lon0, tx * {tw} - 180.0)"),
        "h": (f"LEAST(lat1, 90.0 - ty * {th}) - "
              f"GREATEST(lat0, 90.0 - (ty + 1) * {th})"),
    }


def clip_boxes_to_tiles(boxes_df, z: int):
    """Vector-tile clipping: intersect each box with every tile it
    overlaps, emitting per-(box, tile) clipped extents — the cut stage of
    tile materialization (a feature crossing tile borders is stored
    per-tile, clipped to the tile's bounds).

    Plan: two nested JVM sequence-explodes bounded by the box's own tile
    span (a box spanning t tiles emits exactly t rows — no corpus-wide
    fan-out), then pure arithmetic. At 100 TB the output is repartitioned
    on (z, tx, ty) downstream so each tile's clipped features co-locate
    for encoding; no join, no Python anywhere.
    """
    q = sql_box_tile_clip(z)
    return (
        boxes_df.selectExpr(
            "admin_id", "lon0", "lat0", "lon1", "lat1",
            f"explode(sequence({q['tx0']}, {q['tx1']})) AS tx",
        )
        .selectExpr(
            "admin_id", "lon0", "lat0", "lon1", "lat1", "tx",
            f"explode(sequence({q['ty0']}, {q['ty1']})) AS ty",
        )
        .selectExpr(
            "admin_id", f"CAST({z} AS INT) AS z", "tx", "ty",
            f"{q['w']} AS clip_w", f"{q['h']} AS clip_h",
            f"({q['w']}) * ({q['h']}) AS clip_area",
        )
        .where("clip_w > 0 AND clip_h > 0")
    )


def smooth_cell_counts(counts_df):
    """Raster smoothing: 3x3 neighbor-sum convolution over a sparse cell
    grid (the density-surface step between counting and rendering).

    The kernel runs on the AGGREGATED counts table, not the points: each
    count row fans out to the 9 cells it contributes to (narrow
    (cell, n) pairs), then one groupBy re-sums. Cost is O(9 · n_cells),
    independent of the point count — the right order of operations at
    100 TB where points >> cells. Edge cells simply receive fewer
    contributions (no phantom zero-padding); grid wraparound (dateline)
    is the caller's ghost-cell duplication, as with range_join.
    """
    off = F.expr("explode(transform(sequence(0, 8), i -> "
                 "struct(i div 3 - 1 AS dx, i % 3 - 1 AS dy)))")
    contrib = counts_df.select(
        F.col("ix").alias("_x"), F.col("iy").alias("_y"),
        F.col("n_points").alias("_n"), off.alias("o"),
    ).select(
        (F.col("_x") + F.col("o.dx")).alias("ix"),
        (F.col("_y") + F.col("o.dy")).alias("iy"),
        F.col("_n"),
    )
    smoothed = contrib.groupBy("ix", "iy").agg(
        F.sum("_n").cast("long").alias("smoothed")
    )
    # keep only real cells (ones that have their own count), attaching
    # the original density next to the smoothed one
    return counts_df.join(smoothed, on=["ix", "iy"]).select(
        "ix", "iy", F.col("n_points").cast("long").alias("n_points"),
        "smoothed",
    )


def tile_pyramid(points_df, z_base: int, z_min: int):
    """Multi-zoom tile counts (z_min..z_base) from ONE aggregation: the
    corpus is grouped once into base tiles at ``z_base``, each base tile
    is exploded over the zooms z_min..z_base, and the copies are summed
    by (z, tx div 2^(z_base-z), ty div 2^(z_base-z)) — exact because
    floor(v*2^z_base) div 2^k == floor(v*2^(z_base-k)) for the equirect
    fractions. One corpus scan, no cache and no per-level loop: the
    second aggregation reads at most (z_base - z_min + 1) rows per
    occupied base tile.
    """
    assert 0 <= z_min <= z_base
    base = (
        assign_tiles(points_df, z_base, "lon", "lat")
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n"))
    )
    return (
        base.select(
            "tx", "ty", "n",
            F.explode(F.sequence(F.lit(z_min), F.lit(z_base))).alias("z"),
        )
        .groupBy(
            "z",
            F.expr(f"tx div shiftleft(1L, {z_base} - z)").alias("tx"),
            F.expr(f"ty div shiftleft(1L, {z_base} - z)").alias("ty"),
        )
        .agg(F.sum("n").cast("long").alias("n_points"))
    )


def adaptive_quadtree(points_df, cap: int, max_z: int):
    """Adaptive quadtree leaf decomposition: split every tile that holds
    more than ``cap`` points, down to ``max_z`` — the data-dependent
    tiling behind vector-tile serving and spatial load balancing (a
    uniform zoom either over-splits empty ocean or under-splits cities;
    the reference's fixed-precision grid has no answer to skew).

    Leaf rule, per occupied cell at level z (cell width 2^(16-z)):
    a cell is a leaf iff its ancestor chain says the split stopped
    there — (z == 0 OR parent_count > cap) AND (count <= cap OR
    z == max_z). Counts are non-increasing down the chain, so exactly
    one cell per point's chain matches: leaves PARTITION the points
    (sum of leaf counts == N, pytest-asserted).

    Plan: one scan explodes each point to its (max_z + 1) ancestor
    cells; one hash agg counts every (z, cx, cy); a self equi-join on
    the parent key ((z-1, cx div 2, cy div 2)) attaches parent counts.
    Shuffle O((max_z+1) * points) on small int keys, then O(occupied
    cells) — never a per-level pass over the corpus, and no driver
    iteration: the whole recursion is one join because "split further"
    depends only on (count, parent count). Coordinates must be
    non-negative lattice ints < 2^16.

    Returns (z, cx, cy, n_points) for each leaf.
    """
    zs = int(max_z)
    counts = (
        points_df.select(
            F.col("ix").cast("long").alias("px"),
            F.col("iy").cast("long").alias("py"),
        )
        .select(
            "px", "py",
            F.explode(F.sequence(F.lit(0), F.lit(zs))).alias("z"),
        )
        .groupBy(
            "z",
            F.expr("shiftright(px, 16 - z)").alias("cx"),
            F.expr("shiftright(py, 16 - z)").alias("cy"),
        )
        .agg(F.count("*").cast("long").alias("n_points"))
        .localCheckpoint(eager=False)
    )
    parents = counts.select(
        (F.col("z") + 1).alias("pz"),
        F.col("cx").alias("pcx"), F.col("cy").alias("pcy"),
        F.col("n_points").alias("parent_n"),
    )
    joined = counts.join(
        parents,
        (F.col("z") == F.col("pz"))
        & (F.expr("cx div 2") == F.col("pcx"))
        & (F.expr("cy div 2") == F.col("pcy")),
        "left",
    ).select("z", "cx", "cy", "n_points", "parent_n")
    return joined.where(
        ((F.col("z") == 0) | (F.col("parent_n") > cap))
        & ((F.col("n_points") <= cap) | (F.col("z") == zs))
    ).select("z", "cx", "cy", "n_points")
