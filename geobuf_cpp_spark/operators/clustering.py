"""Grid-density clustering (DBSCAN-lite) over the hierarchical cell index.

The classic geospatial clustering ask — "group the dense areas" — done the
way it scales: instead of the O(n^2) pairwise epsilon-neighborhood DBSCAN
computes, points are first aggregated onto the cell grid (one shuffle, the
same cell ids every other operator in this engine uses), cells below
``min_pts`` are discarded as noise, and the surviving *dense* cells are
connected through 8-neighbor adjacency into components. Cluster identity =
the min cell id of the component, the same keeper convention as fuzzy
dedup (`operators/dedup.py:dedup_clusters`), whose Pregel-style min-label
propagation this reuses verbatim.

Scale shape: the candidate-edge step is NOT a self-join on coordinate
deltas (that is what the DuckDB oracle does, and it is quadratic in dense
cells). Each dense cell emits its 4 lexicographically-forward neighbor
ids by pure integer arithmetic and equi-joins against the dense-cell set
— O(dense cells) rows shuffled on an integer key, broadcast-free,
codegen-friendly. At 100 TB the dense-cell table is orders of magnitude
smaller than the point table, and the fixpoint loop is bounded by the
component diameter (GraphX/Pregel shape), never the corpus size.

The reference engine has no clustering operator; this is part of the
mandated analytics surface (BASELINE.json north_rule: cell-index rollups
and spatial joins at cluster scale).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geobuf_cpp_spark.functions.cells import RES_BASE, sql_cell
from geobuf_cpp_spark.operators.dedup import (
    _driver_union_find_pairs,
    dedup_clusters,
)
from geobuf_cpp_spark.operators.graph import _driver_rows, _local_frame

# lexicographically-forward neighbor offsets: each undirected 8-neighbor
# edge is generated exactly once ((dy,dx) > (0,0) in (y,x) order)
_FWD_OFFSETS = ((0, 1), (1, -1), (1, 0), (1, 1))


def dense_cells(points_df: DataFrame, res: int, min_pts: int) -> DataFrame:
    """Aggregate points onto the grid and keep cells with >= min_pts.

    One map-side-combined shuffle on the cell id; everything below the
    density threshold is noise and never reaches the clustering step.
    """
    cell = F.expr(sql_cell("lat", "lon", res))
    return (
        points_df.groupBy(cell.alias("cell"))
        .agg(F.count("*").alias("n_points"))
        .filter(F.col("n_points") >= min_pts)
    )


def _neighbor_edges(dense: DataFrame, res: int) -> DataFrame:
    """Forward 8-neighbor edges among dense cells, by integer arithmetic.

    iy/ix are recovered from the cell id (`functions/cells.py` layout:
    res*2^52 + iy*2^res + ix), each cell emits its 4 forward neighbors
    (border-guarded, no wraparound), and a single equi-join on the
    neighbor id keeps only neighbors that are themselves dense.
    """
    n = 1 << res
    base = res * RES_BASE
    d = dense.select(
        "cell",
        ((F.col("cell") - F.lit(base)) / F.lit(n)).cast("long").alias("iy"),
        ((F.col("cell") - F.lit(base)) % F.lit(n)).alias("ix"),
    )
    offs = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy, dx in _FWD_OFFSETS
    ])
    nbr = (
        d.select("cell", "iy", "ix", F.explode(offs).alias("o"))
        .withColumn("ny", F.col("iy") + F.col("o.dy"))
        .withColumn("nx", F.col("ix") + F.col("o.dx"))
        .filter(
            (F.col("ny") >= 0) & (F.col("ny") < n)
            & (F.col("nx") >= 0) & (F.col("nx") < n)
        )
        .select(
            F.col("cell").alias("id_a"),
            (F.lit(base) + F.col("ny") * F.lit(n) + F.col("nx")).alias("id_b"),
        )
    )
    return nbr.join(
        dense.select(F.col("cell").alias("id_b")), "id_b", "inner"
    ).select("id_a", "id_b")


def _driver_union_find(ids, res: int):
    """Vectorized 8-neighbor components over a BOUNDED dense-cell list.

    The points were already aggregated away, and the cell list is one
    ``_driver_rows`` probe admitted, so this is a bounded driver
    computation, not a collect of the corpus. Neighbor lookups are numpy
    searchsorted against the sorted id array; the hits go to
    ``_driver_union_find_pairs``.
    """
    ids = np.sort(ids)
    n = 1 << res
    base = res * RES_BASE
    iy, ix = (ids - base) // n, (ids - base) % n
    id_a, id_b = [], []
    for dy, dx in _FWD_OFFSETS:
        ny, nx = iy + dy, ix + dx
        ok = (ny >= 0) & (ny < n) & (nx >= 0) & (nx < n)
        nbr_id = base + ny * n + nx
        pos = np.searchsorted(ids, nbr_id)
        pos_ok = ok & (pos < len(ids))
        hit = np.flatnonzero(pos_ok)
        hit = hit[ids[pos[hit]] == nbr_id[hit]]
        id_a.append(ids[hit])
        id_b.append(nbr_id[hit])
    return _driver_union_find_pairs(ids, np.concatenate(id_a),
                                    np.concatenate(id_b))


def grid_cluster(points_df: DataFrame, res: int, min_pts: int) -> DataFrame:
    """DBSCAN-lite: dense cells -> 8-neighbor components -> cluster ids.

    Returns (cell, n_points, cluster_id) for every dense cell;
    cluster_id is the min cell id of the connected component, so
    singleton dense cells label themselves.

    Adaptive strategy: the dense cells are probed by
    ``graph._driver_rows``. When they come back (at most
    ``graph.DRIVER_LOOP_MAX_EDGES`` rows), numpy enumerates their
    neighbour pairs and a driver union-find labels them, with zero
    fixpoint jobs; otherwise the neighbour edges are a distributed join
    and ``dedup_clusters`` labels them. Both paths produce identical
    labels (pytest-asserted).
    """
    dense = dense_cells(points_df, res, min_pts)
    dense = dense.persist()
    cells = _driver_rows(dense.select("cell"))
    if cells is not None:
        labels = _local_frame(
            points_df.sparkSession, "cell long, cluster_id long",
            *_driver_union_find(cells["cell"].to_numpy(np.int64), res))
        return dense.join(F.broadcast(labels), "cell", "inner").select(
            "cell", "n_points", "cluster_id"
        )
    edges = _neighbor_edges(dense, res)
    labels = dedup_clusters(dense.withColumnRenamed("cell", "doc_id"),
                            edges)
    out = (
        dense.join(
            labels.withColumnRenamed("doc_id", "cell"), "cell", "inner"
        ).select("cell", "n_points", "cluster_id")
    )
    return out


GEO_CELL_BASE = 1_000_000   # cell_id = band * BASE + cx (cx < 36000)


def grid_cluster_geo(points_df: DataFrame, radius_cdeg: int,
                     min_pts: int) -> DataFrame:
    """Geodetic DBSCAN-lite: density clustering on the SPHERE's honest
    grid — latitude bands of height ``radius_cdeg`` with per-band
    longitude cell widths from ``geo_band_widths`` (meridian
    convergence: cells widen toward the poles), so a cluster's spatial
    extent means the same ground distance at 80 deg latitude as at the
    equator, which the planar `grid_cluster` grid gets wrong by 1/cos.

    Dense cells (>= min_pts) connect when their longitude intervals
    overlap after expanding a cell by one own-width on each side:
    within a band that is exactly the +1-forward neighbor; across
    adjacent bands the candidate cx' range under the other band's width
    is enumerated by exact floor division ((cx-1)*w1 and (cx+2)*w1 - 1
    over w2 — doubles are exact here: quotients are either exact
    integers or >= 2^-16 from one), a bounded <= 3*w1/w2 + 2 fan-out per
    cell. Both kinds of candidate meet the dense cells in one equi-join
    (O(dense) id enumeration, no pair scan). Like the planar sibling,
    borders are guarded and there is NO antimeridian wrap for adjacency
    (a cluster crossing +-180 splits — documented family convention;
    the geodetic distance JOINS do ghost the seam).
    Components via the shared min-label engine; cluster_id = min
    cell_id (band * 10^6 + cx).

    Returns (band, cx, n_points, cluster_id) for every dense cell.
    """
    from geobuf_cpp_spark.operators.range_join import geo_band_widths

    r = int(radius_cdeg)
    bands = points_df.sparkSession.createDataFrame(geo_band_widths(r),
                                                   "band long, w long")
    dense = (
        points_df.withColumn("band", F.expr(f"iy div {r}"))
        .join(F.broadcast(bands), "band")
        .groupBy("band", "w", F.expr("ix div w").alias("cx"))
        .agg(F.count("*").alias("n_points"))
        .filter(F.col("n_points") >= min_pts)
        .withColumn("cell_id",
                    F.expr(f"band * {GEO_CELL_BASE} + cx"))
        .persist()
    )
    # each dense cell's candidate neighbours: the next cell of its band
    # and the cx' range of the band above, from its own width w and that
    # band's width w2 (none above the top band, where the left join
    # leaves w2 null)
    fdiv = "CAST(FLOOR(CAST({n} AS DOUBLE) / w2) AS BIGINT)"
    above = (
        "transform(coalesce(sequence(GREATEST("
        + fdiv.format(n="(cx - 1) * w") + ", 0), "
        + fdiv.format(n="(cx + 2) * w - 1")
        + "), CAST(array() AS array<bigint>)), "
        "c -> named_struct('band', band + 1, 'cx', c))")
    edges = (
        dense.join(F.broadcast(bands.selectExpr("band - 1 AS band",
                                                "w AS w2")),
                   "band", "left")
        .selectExpr("cell_id AS id_a",
                    "inline(concat(array(named_struct('band', band, "
                    "'cx', cx + 1)), " + above + "))")
        .join(dense.selectExpr("cell_id AS id_b", "band", "cx"),
              ["band", "cx"])
        .select("id_a", "id_b")
    )
    # Components via dedup_clusters, which probes this edge list: a
    # bounded one (the usual case, since the dense-cell table is bounded
    # by the grid and each cell's fan-out by its band widths) is
    # labelled on the driver; a larger one runs the distributed
    # min-label fixpoint — correct but linear-round-prone on
    # near-percolation grids (observed ~1 band/round label crawl at
    # sf0.1: the banded interval graph defeats pointer-jumping's
    # log-diameter bound in practice).
    labels = dedup_clusters(dense.select(F.col("cell_id").alias("doc_id")),
                            edges)
    return dense.join(
        labels.withColumnRenamed("doc_id", "cell_id"), "cell_id"
    ).select("band", "cx", "n_points", "cluster_id")
