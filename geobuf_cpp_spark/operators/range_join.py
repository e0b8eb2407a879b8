"""Distance (range) join — all pairs within a radius, grid-blocked.

The classic spatial workload the reference's cell machinery exists to
serve (geobuf-cpp indexes geometries but leaves joins to the caller;
cf. README.md:17 "query and data-processing" framing): given point sets
L and R, emit every (l, r) with dist(l, r) <= radius. The naive plan is
a cross join — O(|L|·|R|) and unshippable at 10^12 rows. The scale plan
is grid blocking:

  1. bucket both sides into square cells of side = radius,
  2. expand ONE side to its 3x3 cell neighborhood (a 9x row fan-out of
     (id, x, y) triples — ~24 bytes/row, cheap),
  3. equi-join on the cell key (one shuffle per side, AQE-splittable),
  4. exact distance filter on the survivors.

Every qualifying pair is found exactly once (the build side sits in one
cell; the probe side visits that cell once), so no distinct is needed.
The candidate ratio is bounded: a cell of side r can only pair with
points within sqrt(8)·r, so candidates per true pair are O(1) for
non-adversarial distributions; city-skewed hot cells are handled by the
same AQE skew-join split the PIP join relies on.

Coordinates are INTEGER planar (the orders lattice is centidegrees), so
the distance test is exact BIGINT arithmetic — zero cross-engine float
drift against the brute-force oracle. Geodetic use at the antimeridian
(x wrapping with period 360°) is handled by ``wrap_x``: build-side
points within ``radius`` of either seam get a ±period ghost copy (a
JVM-side conditional explode, one scan, ghost fraction ~2r/period), so
wrapped pairs surface through the same grid join with their exact
wrapped distance. Requires period > 2·radius, which guarantees at most
one representation of any pair qualifies — no double counting.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

SPHERE_SCALE = 10**9        # quantized unit-sphere coordinate scale


def sql_sphere_xyz(prefix: str = "s") -> list[str]:
    """Shared SQL (list of three ``expr AS name`` strings):
    centidegree lattice -> quantized unit-sphere BIGINTs.

    lon = (ix-18000)/100 deg, lat = (iy-8500)/100 deg (the IPOINTS
    contract); X,Y,Z = round(scale * unit vector). Rounding makes the
    coordinates exact integers, so the chord-distance predicate
    downstream is pure BIGINT — empirically verified identical between
    Spark's Math and DuckDB's libm over the entire 150k-point sf0.1
    lattice (deterministic inputs make that a fixed property, not a
    probability; scripts in round-5 notes). SPHERE_SCALE=1e9 keeps chord^2
    <= 4e18 < 2^63.
    """
    lat = "radians(((iy) - 8500) / 100.0)"
    lon = "radians(((ix) - 18000) / 100.0)"
    return [
        f"CAST(round({SPHERE_SCALE} * cos({lat}) * cos({lon})) AS BIGINT) "
        f"AS {prefix}x",
        f"CAST(round({SPHERE_SCALE} * cos({lat}) * sin({lon})) AS BIGINT) "
        f"AS {prefix}y",
        f"CAST(round({SPHERE_SCALE} * sin({lat})) AS BIGINT) AS {prefix}z",
    ]


def chord_threshold(radius_cdeg: int) -> int:
    """T such that great-circle distance <= radius (centidegrees) iff
    quantized chord^2 <= T^2 (up to the +-sqrt(3) quantization band,
    where classification is deterministic in both engines): the chord
    of angle theta on the scaled sphere is 2*scale*sin(theta/2)."""
    theta = math.radians(radius_cdeg / 100.0)
    return round(2 * SPHERE_SCALE * math.sin(theta / 2.0))


def geo_band_widths(radius_cdeg: int) -> list[tuple[int, int]]:
    """(band, lon cell width in centidegrees) for each latitude band.

    Band k covers iy in [k*r, (k+1)*r). A pair within great-circle
    radius theta has |delta lon| <= theta / cos(lat*) where lat* is
    either endpoint's latitude, both within theta of the band — so the
    width uses min cos over the band EXPANDED by r, making the 3x3
    (band, lon-cell) neighborhood a complete candidate cover. Widths
    grow toward the poles (1/cos) — the honest geometry of meridian
    convergence; the domain caps at |lat| < 85 deg so cos >= 0.087.
    """
    r = int(radius_cdeg)
    out = []
    for k in range(0, (17000 + r - 1) // r):
        lo = k * r - 8500 - r
        hi = (k + 1) * r - 1 - 8500 + r
        max_abs = min(max(abs(lo), abs(hi)), 8500)
        cos_min = math.cos(math.radians(max_abs / 100.0))
        out.append((k, max(r, math.ceil(r / cos_min))))
    return out


def geo_self_join(points: DataFrame, radius_cdeg: int) -> DataFrame:
    """All unordered pairs within a GREAT-CIRCLE radius (centidegrees).

    The geodetic sibling of ``range_self_join``: the planar grid is
    wrong on a sphere (meridians converge; longitude wraps), so this
    plan blocks on latitude bands with per-band longitude cell widths
    (``geo_band_widths``) and ghosts seam-adjacent build points across
    the +-180 meridian, while the FILTER is the exact integer
    chord-squared predicate on quantized unit-sphere coordinates
    (``sql_sphere_xyz``) — monotone with great-circle distance, no
    haversine floats at the boundary. Shape mirrors the planar join:
    build side one cell, probe side 3 bands x 3 cells, one equi-join
    shuffle per side, AQE-splittable; returns (id_a, id_b, c2) with c2
    the exact scaled chord^2.
    """
    r = int(radius_cdeg)
    assert 0 < r < 8500, "radius must be positive centidegrees < 85 deg"
    spark = points.sparkSession
    bands = spark.createDataFrame(geo_band_widths(r), "band long, w long")
    t2 = chord_threshold(r) ** 2

    base = points.selectExpr(
        "point_id AS pid", "ix", "iy", *sql_sphere_xyz()
    ).withColumn("band", F.expr(f"iy div {r}"))

    # build: one (band, lon-cell) per point + antimeridian ghosts. The
    # ghost shift is applied BEFORE cell assignment; floor() handles the
    # negative ghost domain (Spark div truncates toward zero).
    b = (
        base.join(F.broadcast(bands), "band")
        .select(
            F.col("pid").alias("id_b"), "band", "w",
            F.col("sx").alias("bx3"), F.col("sy").alias("by3"),
            F.col("sz").alias("bz3"),
            F.expr(
                "explode(filter(array(0L, 36000L, -36000L), s -> "
                "s = 0L OR (s > 0L AND ix < w) "
                "OR (s < 0L AND ix >= 36000 - w)))").alias("_s"),
            F.col("ix"),
        )
        .select(
            "id_b", "band", "bx3", "by3", "bz3",
            F.floor((F.col("ix") + F.col("_s")) / F.col("w"))
            .cast("long").alias("lx"),
        )
    )
    # probe: 3 candidate bands, each with ITS OWN width, x 3 lon cells
    p = (
        base.select(
            F.col("pid").alias("id_a"), "ix",
            F.col("sx").alias("ax3"), F.col("sy").alias("ay3"),
            F.col("sz").alias("az3"),
            F.expr("explode(array(band - 1, band, band + 1))")
            .alias("band"),
        )
        .join(F.broadcast(bands), "band")
        .select(
            "id_a", "band", "ax3", "ay3", "az3",
            F.expr("explode(array(ix div w - 1, ix div w, ix div w + 1))")
            .alias("lx"),
        )
    )
    dx = F.col("ax3") - F.col("bx3")
    dy = F.col("ay3") - F.col("by3")
    dz = F.col("az3") - F.col("bz3")
    c2 = dx * dx + dy * dy + dz * dz
    return (
        p.join(b, ["band", "lx"])
        .where((c2 <= F.lit(t2)) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", c2.cast("long").alias("c2"))
    )


def range_self_join(points: DataFrame, radius: int,
                    wrap_x: int | None = None) -> DataFrame:
    """All unordered pairs (id_a < id_b) within ``radius`` (integer
    planar), grid-blocked; see module docstring for the plan.

    Returns (id_a, id_b, d2) with d2 the exact squared distance.
    ``wrap_x`` enables antimeridian ghosting: x coordinates wrap with
    that period (points must lie in [0, wrap_x)), and the reported d2
    uses the wrapped x difference. Requires wrap_x > 2 * radius. A
    seam-crossing pair is found exactly once: probing either endpoint
    hits the other's ghost, yielding the two orderings, and the
    id_a < id_b cut keeps one.
    """
    r = int(radius)
    assert r > 0, "radius must be a positive integer"

    # build side: one cell per point
    bsrc = points.select(
        F.col("point_id").alias("id_b"),
        F.col("ix").cast("long").alias("bx"),
        F.col("iy").cast("long").alias("by"),
    )
    if wrap_x is not None:
        period = int(wrap_x)
        assert period > 2 * r, "wrap period must exceed the pair diameter"
        # ghost seam-adjacent build points at ±period: a conditional
        # explode over a 3-constant array — one scan, no union of
        # re-reads, ghost volume ~2r/period of the build side
        shift = F.expr(
            f"explode(filter(array(0L, {period}L, {-period}L), s -> "
            f"s = 0L OR (s > 0L AND bx < {r}) "
            f"OR (s < 0L AND bx >= {period - r})))"
        )
        bsrc = (
            bsrc.select("id_b", "bx", "by", shift.alias("_s"))
            .select(
                "id_b",
                (F.col("bx") + F.col("_s")).alias("bx"),
                "by",
            )
        )
    b = bsrc.select(
        "id_b", "bx", "by",
        F.floor(F.col("bx") / r).cast("long").alias("cx"),
        F.floor(F.col("by") / r).cast("long").alias("cy"),
    )
    # probe side: fan out to the 3x3 neighborhood. The explode carries
    # only (id, x, y) — the 9x volume is on the narrow key triple, never
    # on payload columns (join payload back by id afterwards if needed).
    off = F.expr("explode(transform(sequence(0, 8), i -> "
                 "struct(i div 3 - 1 AS dx, i % 3 - 1 AS dy)))")
    p = (
        points.select(
            F.col("point_id").alias("id_a"),
            F.col("ix").alias("ax"), F.col("iy").alias("ay"),
            F.floor(F.col("ix") / r).cast("long").alias("pcx"),
            F.floor(F.col("iy") / r).cast("long").alias("pcy"),
        )
        .select("id_a", "ax", "ay", "pcx", "pcy", off.alias("o"))
        .select(
            "id_a", "ax", "ay",
            (F.col("pcx") + F.col("o.dx")).alias("cx"),
            (F.col("pcy") + F.col("o.dy")).alias("cy"),
        )
    )
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    pairs = (
        p.join(b, on=["cx", "cy"])
        .where(dx * dx + dy * dy <= F.lit(r) * F.lit(r))
        .where(F.col("id_a") < F.col("id_b"))
    )
    return pairs.select(
        "id_a", "id_b", (dx * dx + dy * dy).cast("long").alias("d2")
    )
