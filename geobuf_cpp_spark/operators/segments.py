"""Segment-intersection join — which line segments cross, at scale.

The computational-geometry workload behind map conflation, trajectory
crossing detection, and road-network validation: given N line segments,
find every intersecting pair. The naive plan is O(N²); the scale plan is
the same grid blocking the range join uses:

  1. each segment explodes to the grid cells its bbox overlaps
     (``cell_size`` >= the max segment extent keeps that <= 4 cells);
  2. candidate pairs arrive by cell equi-join (one shuffle, AQE-splittable);
  3. the exact CLRS SEGMENTS-INTERSECT predicate (integer cross-product
     orientation tests + collinear on-segment checks — zero floats, so
     zero cross-engine drift) filters candidates;
  4. each surviving pair is emitted EXACTLY once with no DISTINCT: a pair
     is reported only from the lexicographically smallest cell the two
     bboxes share, which is computable per-row as (max of the bbox
     cx-mins, max of the cy-mins) because cell ranges are intervals.

The predicate is built ONCE as SQL text and executed verbatim by Spark
and the DuckDB oracle — cross-engine drift is structurally impossible,
the same discipline sources/points.py applies to coordinates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _cross(ox: str, oy: str, px: str, py: str, qx: str, qy: str) -> str:
    """Orientation sign of (o->p) x (o->q), exact BIGINT."""
    return (f"(({px} - {ox}) * ({qy} - {oy}) - "
            f"({py} - {oy}) * ({qx} - {ox}))")


def _onseg(px: str, py: str, qx: str, qy: str, rx: str, ry: str) -> str:
    """Given r collinear with segment pq: does r lie on pq?"""
    return (f"(LEAST({px}, {qx}) <= {rx} AND {rx} <= GREATEST({px}, {qx}) "
            f"AND LEAST({py}, {qy}) <= {ry} AND {ry} <= "
            f"GREATEST({py}, {qy}))")


def sql_segments_intersect() -> str:
    """CLRS SEGMENTS-INTERSECT over columns {a}ax..{a}by and {b}ax..{b}by.

    True iff the closed segments share at least one point (proper
    crossings, endpoint touches, and collinear overlaps). Coordinates
    must be integers with |coord| < ~2^30 so the cross products stay in
    BIGINT range.
    """
    d1 = _cross("a_ax", "a_ay", "a_bx", "a_by", "b_ax", "b_ay")
    d2 = _cross("a_ax", "a_ay", "a_bx", "a_by", "b_bx", "b_by")
    d3 = _cross("b_ax", "b_ay", "b_bx", "b_by", "a_ax", "a_ay")
    d4 = _cross("b_ax", "b_ay", "b_bx", "b_by", "a_bx", "a_by")
    proper = (f"((({d1}) > 0 AND ({d2}) < 0) OR (({d1}) < 0 AND ({d2}) > 0))"
              f" AND ((({d3}) > 0 AND ({d4}) < 0) OR "
              f"(({d3}) < 0 AND ({d4}) > 0))")
    touch = " OR ".join([
        f"(({d1}) = 0 AND "
        + _onseg("a_ax", "a_ay", "a_bx", "a_by",
                 "b_ax", "b_ay") + ")",
        f"(({d2}) = 0 AND "
        + _onseg("a_ax", "a_ay", "a_bx", "a_by",
                 "b_bx", "b_by") + ")",
        f"(({d3}) = 0 AND "
        + _onseg("b_ax", "b_ay", "b_bx", "b_by",
                 "a_ax", "a_ay") + ")",
        f"(({d4}) = 0 AND "
        + _onseg("b_ax", "b_ay", "b_bx", "b_by",
                 "a_bx", "a_by") + ")",
    ])
    return f"(({proper}) OR {touch})"


def segment_intersections(segs: DataFrame, cell_size: int) -> DataFrame:
    """(id_a, id_b) for every intersecting unordered segment pair.

    Size ``cell_size`` >= the max per-axis segment extent so each bbox
    overlaps at most a 2x2 cell block — candidate fan-out O(4) per
    segment. A smaller ``cell_size`` stays CORRECT (the ``sequence()``
    explode simply covers the full cell span, and smallest-shared-cell
    dedup still emits each pair once) but degrades the fan-out bound to
    O(span^2) for segments longer than a cell.
    """
    c = int(cell_size)
    assert c > 0
    spans = segs.selectExpr(
        "seg_id AS sid", "ax", "ay", "bx", "by",
        f"CAST(floor(LEAST(ax, bx) / {c}) AS BIGINT) AS cx0",
        f"CAST(floor(GREATEST(ax, bx) / {c}) AS BIGINT) AS cx1",
        f"CAST(floor(LEAST(ay, by) / {c}) AS BIGINT) AS cy0",
        f"CAST(floor(GREATEST(ay, by) / {c}) AS BIGINT) AS cy1",
    )
    cells = (
        spans
        .selectExpr("*", "explode(sequence(cx0, cx1)) AS cx")
        .selectExpr("*", "explode(sequence(cy0, cy1)) AS cy")
    )
    a = cells.selectExpr(
        "sid AS id_a", "ax AS a_ax", "ay AS a_ay", "bx AS a_bx",
        "by AS a_by", "cx0 AS a_cx0", "cy0 AS a_cy0", "cx", "cy")
    b = cells.selectExpr(
        "sid AS id_b", "ax AS b_ax", "ay AS b_ay", "bx AS b_bx",
        "by AS b_by", "cx0 AS b_cx0", "cy0 AS b_cy0", "cx", "cy")
    pred = sql_segments_intersect()
    # report each pair only from the smallest cell both bboxes share —
    # an O(1) per-row dedup, no DISTINCT shuffle over the pair set
    once = ("cx = GREATEST(a_cx0, b_cx0) AND "
            "cy = GREATEST(a_cy0, b_cy0)")
    return (
        a.join(b, on=["cx", "cy"])
        .where("id_a < id_b")
        .where(F.expr(once))
        .where(F.expr(pred))
        .select("id_a", "id_b")
    )


def sql_point_segment_within(r: int) -> str:
    """Exact integer predicate: dist(point, closed segment) <= r.

    Case analysis on the projection parameter t = dot/len2 WITHOUT ever
    forming the fraction: endpoint distance when the projection falls
    outside [0, 1], else the perpendicular distance compared by
    cross-multiplication (cross^2 <= r^2 * len2) — all BIGINT, no
    sqrt, no division, so both engines decide identically.
    """
    dx, dy = "(s_bx - s_ax)", "(s_by - s_ay)"
    ex, ey = "(p_x - s_ax)", "(p_y - s_ay)"
    fx, fy = "(p_x - s_bx)", "(p_y - s_by)"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    dot = f"({ex} * {dx} + {ey} * {dy})"
    cross = f"({ex} * {dy} - {ey} * {dx})"
    r2 = int(r) * int(r)
    ap2 = f"({ex} * {ex} + {ey} * {ey})"
    bp2 = f"({fx} * {fx} + {fy} * {fy})"
    return (
        f"(CASE WHEN {len2} = 0 OR {dot} <= 0 THEN {ap2} <= {r2} "
        f"WHEN {dot} >= {len2} THEN {bp2} <= {r2} "
        f"ELSE {cross} * {cross} <= {r2} * {len2} END)"
    )


def sql_point_segment_dist2(div_op: str = "div") -> str:
    """Exact SCALED squared distance point -> closed segment, for
    candidates already known within a small radius.

    Same case analysis as `sql_point_segment_within`; the perpendicular
    branch forms ``(cross^2 * scale) intdiv len2`` — an exact integer
    both engines agree on (all terms positive, so Spark's truncating
    ``div`` equals DuckDB's flooring ``//``; pass ``div_op`` per
    engine). Collisions after flooring are broken by the caller's id
    tiebreak, making any argmin over this value a DEFINED, cross-engine
    -deterministic snapping criterion. Bounds (radius<=100 candidates,
    extent<=300 segments): branch values <= r^2*scale ~ 1e10 and
    cross^2*scale <= r^2*len2*scale ~ 2e15 — well inside BIGINT.
    """
    dx, dy = "(s_bx - s_ax)", "(s_by - s_ay)"
    ex, ey = "(p_x - s_ax)", "(p_y - s_ay)"
    fx, fy = "(p_x - s_bx)", "(p_y - s_by)"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    dot = f"({ex} * {dx} + {ey} * {dy})"
    cross = f"({ex} * {dy} - {ey} * {dx})"
    ap2 = f"({ex} * {ex} + {ey} * {ey})"
    bp2 = f"({fx} * {fx} + {fy} * {fy})"
    return (
        f"(CASE WHEN {len2} = 0 OR {dot} <= 0 THEN {ap2} * {1 << 20} "
        f"WHEN {dot} >= {len2} THEN {bp2} * {1 << 20} "
        f"ELSE ({cross} * {cross} * {1 << 20}) {div_op} {len2} END)"
    )


def _point_seg_candidates(points: DataFrame, segs: DataFrame,
                          radius: int, cell_size: int,
                          point_id: str, seg_id: str) -> DataFrame:
    """Blocked (point, segment) candidate pairs with coordinates:
    segments explode to the cells of their radius-expanded bbox; points
    carry their single cell; one cell equi-join + the exact within-r
    predicate. A point has exactly ONE cell, so each qualifying pair
    matches exactly once — no dedup step in the plan."""
    r, c = int(radius), int(cell_size)
    assert r > 0 and c > 0
    s = segs.selectExpr(
        f"{seg_id} AS sid", "ax AS s_ax", "ay AS s_ay",
        "bx AS s_bx", "by AS s_by",
        f"CAST(floor((LEAST(ax, bx) - {r}) / {c}) AS BIGINT) AS cx0",
        f"CAST(floor((GREATEST(ax, bx) + {r}) / {c}) AS BIGINT) AS cx1",
        f"CAST(floor((LEAST(ay, by) - {r}) / {c}) AS BIGINT) AS cy0",
        f"CAST(floor((GREATEST(ay, by) + {r}) / {c}) AS BIGINT) AS cy1",
    )
    s_cells = (
        s.selectExpr("*", "explode(sequence(cx0, cx1)) AS cx")
        .selectExpr("sid", "s_ax", "s_ay", "s_bx", "s_by", "cy0", "cy1",
                    "cx", "explode(sequence(cy0, cy1)) AS cy")
    )
    p = points.selectExpr(
        f"{point_id} AS pid", "ix AS p_x", "iy AS p_y",
        f"CAST(floor(ix / {c}) AS BIGINT) AS cx",
        f"CAST(floor(iy / {c}) AS BIGINT) AS cy",
    )
    return (
        p.join(s_cells, on=["cx", "cy"])
        .where(F.expr(sql_point_segment_within(r)))
    )


def point_segment_range_join(points: DataFrame, segs: DataFrame,
                             radius: int, cell_size: int,
                             point_id: str = "point_id",
                             seg_id: str = "seg_id") -> DataFrame:
    """(point_id, seg_id) for every point within ``radius`` of a segment.

    The map-matching / buffer-intersects prefilter (see
    `_point_seg_candidates` for the blocked plan shape).
    """
    return _point_seg_candidates(
        points, segs, radius, cell_size, point_id, seg_id
    ).selectExpr("pid AS point_id", "sid AS seg_id")


def snap_to_segments(candidates: DataFrame) -> DataFrame:
    """Map-matching step two: snap each point to its NEAREST segment
    within the radius (argmin of the exact scaled squared distance,
    seg-id tiebreak). Points with no candidate emit no row.

    ``candidates`` is the blocked (point, segment) join of
    `_point_seg_candidates` (shared, possibly persisted, across
    consumers); one map-side-combinable ``min(struct(dist, sid))`` per
    point follows — no window, no second shuffle beyond the point-keyed
    agg. Output: (point_id, seg_id, dist2_scaled)."""
    d2s = F.expr(sql_point_segment_dist2(div_op="div"))
    best = (
        candidates.select("pid", d2s.alias("_d2s"), "sid")
        .groupBy("pid")
        .agg(F.min(F.struct(
            F.col("_d2s").alias("d2s"), F.col("sid").alias("sid"),
        )).alias("m"))
    )
    return best.select(
        F.col("pid").alias("point_id"),
        F.col("m.sid").alias("seg_id"),
        F.col("m.d2s").cast("long").alias("dist2_scaled"),
    )
