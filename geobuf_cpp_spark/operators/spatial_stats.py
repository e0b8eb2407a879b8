"""Spatial autocorrelation (global Moran's I, local Getis-Ord Gi*) in
exact integer parts.

Moran's I is THE summary statistic for "is this variable spatially
clustered?" — for a web-geo corpus, whether geotag density concentrates
(I -> 1), disperses (I -> -1), or scatters randomly (I ~ 0). Over the
engine's grid: x_i = point count of occupied cell i, weights w_ij = 1
for 8-neighbor adjacency (occupied cells only, planar — no antimeridian
adjacency, documented), and

    I = (N / W) * sum_ij w_ij (x_i - xbar)(x_j - xbar)
               / sum_i (x_i - xbar)^2.

xbar = T/N is rational, so the engine multiplies through by N^2 and
reports EXACT integer parts: num = sum_ij w_ij (N x_i - T)(N x_j - T)
and den = sum_i (N x_i - T)^2 (both scaled by the same N^2, which
cancels), plus N and W; the caller resolves I = (N * num) / (W * den)
in floats. Products are DECIMAL(38,0) shipped as digit strings (same
discipline as group_trend / hll_estimate).

Plan: one grid aggregation (map-side combined), the forward-neighbor
equi-join from `clustering._neighbor_edges` (each undirected pair
generated once by integer arithmetic, never a coordinate self-join;
symmetric products doubled), and three single-row aggregates broadcast
together. O(occupied cells) work after the one corpus-scan shuffle —
the cell table is bounded by 4^res regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clustering import _neighbor_edges, dense_cells


def morans_i_parts(points_df: DataFrame, res: int) -> DataFrame:
    """One row: (n_cells, w_pairs, num, den) — exact Moran's I parts."""
    # the cell table feeds four consumers (totals, both join sides, the
    # denominator) with DIFFERENT column pruning, which defeats
    # ReuseExchange
    cells = dense_cells(
        points_df, res, 1).localCheckpoint(eager=False)
    tot = cells.agg(
        F.sum("n_points").alias("t_sum"),
        F.count("*").alias("n_cells"),
    )

    def dev(xcol):
        # N * x_i - T, exact in DECIMAL(38,0)
        return (
            F.col("n_cells").cast("decimal(38,0)") * xcol.cast("decimal(38,0)")
            - F.col("t_sum").cast("decimal(38,0)")
        )

    edges = _neighbor_edges(cells, res)
    xa = cells.select(
        F.col("cell").alias("id_a"), F.col("n_points").alias("x_a"))
    xb = cells.select(
        F.col("cell").alias("id_b"), F.col("n_points").alias("x_b"))
    num = (
        edges.join(xa, "id_a").join(xb, "id_b")
        .crossJoin(F.broadcast(tot))
        .agg(
            (F.lit(2).cast("decimal(38,0)")
             * F.sum(dev(F.col("x_a")) * dev(F.col("x_b"))))
            .cast("decimal(38,0)").cast("string").alias("num"),
            (F.count("*") * 2).cast("long").alias("w_pairs"),
        )
    )
    den = (
        cells.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(dev(F.col("n_points")) * dev(F.col("n_points")))
            .cast("decimal(38,0)").cast("string").alias("den"),
            F.max("n_cells").cast("long").alias("n_cells"),
        )
    )
    return num.crossJoin(den).select("n_cells", "w_pairs", "num", "den")


def getis_ord_parts(points_df: DataFrame, res: int) -> DataFrame:
    """Local Getis-Ord Gi* hotspot parts per occupied grid cell.

    Moran's I answers "is density clustered AT ALL?"; Gi* answers the
    question every heat-map actually asks — WHICH cells are the hot
    spots. For cell i with queen neighborhood N(i) (8-adjacent occupied
    cells, self included — the * variant), x_j = point count:

        Gi* = sum_{j in N(i)} x_j  vs  its expectation k_i * xbar,

    so the exact-integer z-score numerator is
    ``gi_num = N * local_sum_i - k_i * T`` (scaled by N, which the
    caller's denominator shares). The sqrt-bearing denominator needs
    only the globals shipped on every row: N (n_cells), T (t_sum) and
    sum x^2 (ssq, DECIMAL(38,0) as a digit string — x^2 overflows
    BIGINT at full corpus scale). Same occupied-cells-only weight
    convention as `morans_i_parts` (empty cells carry no weight),
    documented rather than the all-lattice variant.

    Plan: one map-side-combined grid aggregation, the forward-neighbor
    integer equi-join symmetrized (plus the self edge), one bounded
    groupBy on the cell id, and the single-row totals broadcast onto
    every cell row. O(occupied cells) work after the corpus scan; the
    cell table is bounded by 4^res regardless of corpus size. gi_num
    stays in BIGINT: N <= 4^res and local sums are corpus counts, so
    the product is < 2^16 * 2^40 even at 10^12 points.
    """
    # multi-consumer frames with differing pruning (see morans_i_parts)
    cells = dense_cells(
        points_df, res, 1).localCheckpoint(eager=False)
    tot = cells.agg(
        F.sum("n_points").alias("t_sum"),
        F.count("*").alias("n_cells"),
        F.sum(
            F.col("n_points").cast("decimal(38,0)") * F.col("n_points")
        ).cast("decimal(38,0)").cast("string").alias("ssq"),
    )
    edges = _neighbor_edges(cells, res).localCheckpoint(eager=False)
    sym = (
        edges.select("id_a", "id_b")
        .unionAll(edges.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")))
        .unionAll(cells.select(
            F.col("cell").alias("id_a"), F.col("cell").alias("id_b")))
    )
    xb = cells.select(
        F.col("cell").alias("id_b"), F.col("n_points").alias("x_b"))
    loc = (
        sym.join(xb, "id_b")
        .groupBy("id_a")
        .agg(
            F.count("*").cast("long").alias("k"),
            F.sum("x_b").cast("long").alias("local_sum"),
        )
    )
    return (
        loc.crossJoin(F.broadcast(tot))
        .select(
            F.col("id_a").alias("cell"),
            "k",
            "local_sum",
            (F.col("n_cells") * F.col("local_sum")
             - F.col("k") * F.col("t_sum")).cast("long").alias("gi_num"),
            F.col("n_cells").cast("long").alias("n_cells"),
            F.col("t_sum").cast("long").alias("t_sum"),
            "ssq",
        )
    )


def kde_density(points_df: DataFrame, radius: int) -> DataFrame:
    """Kernel-density heatmap in exact integer arithmetic — the
    Epanechnikov-kernel surface behind every web-map "heat layer",
    evaluated at occupied-cell centers.

    Grid width w = radius (w even so centers (c*w + w/2) are lattice
    points); the density at an occupied cell's center is

        density = sum over points p with d2(p, center) < r^2
                  of (r^2 - d2)            (d2 = squared Euclidean)

    — the unnormalized Epanechnikov kernel, integer-exact end to end
    (the usual gaussian weights are transcendental; this kernel is the
    standard finite-support substitute and keeps both engines
    bit-identical). Only cells CONTAINING at least one point are
    evaluated: the output is bounded by occupied cells, not the grid.

    Plan: one scan derives the occupied-cell directory (bounded, grid-
    capped); each point explodes to the 3x3 neighboring cells (a center
    within r of a point can only be 0/+-1 cells away when w = r), the
    candidates equi-join the directory on the cell key, the kernel
    filter runs map-side, one hash agg sums. Shuffle O(9 * points) on
    a 2-int key — never cells x points.

    Returns (cx, cy, n_points, density): n_points = points inside the
    cell, density = the kernel sum over its center.
    """
    r = int(radius)
    assert r % 2 == 0, "radius must be even (lattice cell centers)"
    w = r
    cells = (
        points_df.groupBy(
            F.expr(f"ix div {w}").alias("cx"),
            F.expr(f"iy div {w}").alias("cy"),
        )
        .agg(F.count("*").cast("long").alias("n_points"))
    )
    cand = (
        points_df.select(
            F.col("ix").cast("long").alias("px"),
            F.col("iy").cast("long").alias("py"),
        )
        .select(
            "px", "py",
            F.expr(f"explode(sequence(px div {w} - 1, px div {w} + 1))")
            .alias("cx"),
        )
        .select(
            "px", "py", "cx",
            F.expr(f"explode(sequence(py div {w} - 1, py div {w} + 1))")
            .alias("cy"),
        )
    )
    half = w // 2
    d2 = (
        f"(px - (cx * {w} + {half})) * (px - (cx * {w} + {half})) + "
        f"(py - (cy * {w} + {half})) * (py - (cy * {w} + {half}))"
    )
    return (
        cand.join(cells, ["cx", "cy"])
        .where(F.expr(f"{d2} < {r * r}"))
        .groupBy("cx", "cy")
        .agg(
            F.first("n_points").cast("long").alias("n_points"),
            F.sum(F.expr(f"{r * r} - ({d2})")).cast("long")
            .alias("density"),
        )
    )


def rect_union_area(rects_df: DataFrame) -> DataFrame:
    """Exact area of the UNION of axis-aligned rectangles — the
    coverage question ("how much of the plane do these footprints
    cover?") that naive sum-of-areas gets wrong the moment two boxes
    overlap (reference stores box geometries; this is the measure-side
    query over them).

    Classic sweep, re-expressed as data-parallel window algebra:

    * Slab decomposition: the DISTINCT x-boundaries of the input,
      paired with their successor via lead(), cut the plane into
      vertical slabs within which coverage is constant in x.
    * Slab <-> rect matching is grid-blocked into an EQUI-join (the
      range-join discipline of operators/range_join.py): each rect
      explodes to the x-blocks its [x0, x1) span touches, each slab
      joins on its start-x block, the exact x0 <= sx < x1 predicate
      runs map-side. Truncating `div` on possibly-negative coords is
      safe here because BOTH join sides use the same div — monotone,
      so a slab's block always lies inside its covering rect's block
      range. No BNLJ, no cartesian.
    * Per-slab y-interval union via gaps-and-islands: running max of
      y1 over the slab's intervals (ordered by y0, y1) marks island
      starts; an island's covered length is max(y1) - min(y0); the
      windows are PARTITIONed by slab, so slabs sweep in parallel.

    The one global window is the lead() over the distinct-x directory
    — bounded by the rectangle dimension (2 per rect), the same
    bounded-directory concession zonemap planning makes; at corpus
    scale tile-block the plane first and run this per tile.

    All arithmetic is integer-exact (lattice coords): covered length
    and slab area are BIGINTs. Returns one row per slab with nonzero
    coverage: (slab_x0, slab_x1, covered, area); total union area =
    sum(area).
    """
    from pyspark.sql import Window

    b = 4096
    xs = (
        rects_df.select(F.col("lon0").cast("long").alias("sx"))
        .union(rects_df.select(F.col("lon1").cast("long").alias("sx")))
        .distinct()
    )
    slabs = (
        xs.select(
            "sx", F.lead("sx").over(Window.orderBy("sx")).alias("sxn"))
        .where(F.col("sxn").isNotNull())
        .withColumn("xb", F.expr(f"sx div {b}"))
    )
    rects = rects_df.select(
        F.col("lon0").cast("long").alias("rx0"),
        F.col("lon1").cast("long").alias("rx1"),
        F.col("lat0").cast("long").alias("ry0"),
        F.col("lat1").cast("long").alias("ry1"),
    ).where((F.col("rx0") < F.col("rx1")) & (F.col("ry0") < F.col("ry1")))
    spread = rects.select(
        "rx0", "rx1", "ry0", "ry1",
        F.expr(f"explode(sequence(rx0 div {b}, (rx1 - 1) div {b}))")
        .alias("xb"),
    )
    spans = (
        slabs.join(spread, "xb")
        .where((F.col("rx0") <= F.col("sx")) & (F.col("sx") < F.col("rx1")))
        .select("sx", "sxn", "ry0", "ry1")
    )
    order = Window.partitionBy("sx").orderBy("ry0", "ry1")
    prev = order.rowsBetween(Window.unboundedPreceding, -1)
    islands = (
        spans.withColumn("pmax", F.max("ry1").over(prev))
        .withColumn(
            "ni",
            F.when(
                F.col("pmax").isNull() | (F.col("ry0") > F.col("pmax")), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("ni").over(
            order.rowsBetween(Window.unboundedPreceding, 0)))
    )
    cov = (
        islands.groupBy("sx", "sxn", "island")
        .agg((F.max("ry1") - F.min("ry0")).alias("ilen"))
        .groupBy("sx", "sxn")
        .agg(F.sum("ilen").cast("long").alias("covered"))
    )
    return cov.select(
        F.col("sx").alias("slab_x0"),
        F.col("sxn").alias("slab_x1"),
        "covered",
        ((F.col("sxn") - F.col("sx")) * F.col("covered"))
        .cast("long").alias("area"),
    )
