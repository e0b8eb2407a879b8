"""Hierarchical cell index + tile schemes (H3/S2-style, pure arithmetic).

The engine's spatial primitives must run identically in three places:
vectorized numpy (inside pandas UDFs), Spark SQL expressions (JVM-side,
whole-stage codegen), and the DuckDB oracle SQL used by the correctness
gate. To guarantee bit-identical results everywhere, the cell scheme is
pure IEEE-double arithmetic (no trig in the oracle-checked paths) and each
formula exists ONCE as a SQL-text builder that both engines execute.

Scheme: an equirectangular quadtree. At resolution ``r`` the world splits
into 2^r x 2^r cells:

    ix = clamp(floor((lon + 180) / 360 * 2^r), 0, 2^r - 1)
    iy = clamp(floor((lat +  90) / 180 * 2^r), 0, 2^r - 1)
    cell_id = r * 2^52 + iy * 2^r + ix

Hierarchy is exact: the parent at resolution r-1 is (iy >> 1, ix >> 1) —
the same subdivision contract as S2/H3 cells (reference has no counterpart;
mandated by BASELINE.json north_rule "H3/S2 index"). The resolution tag in
the high bits makes ids from different resolutions disjoint, so mixed-
resolution cell columns can't accidentally equi-join.

Tiles: slippy-map z/x/y. The oracle-checked variant uses the equirectangular
y (pure arithmetic); Web-Mercator y (the standard OSM scheme, needs tan/log
whose libm results are not IEEE-reproducible across engines) is provided for
real use and tested against known goldens in pytest instead.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 25
RES_BASE = 1 << 52  # resolution tag stride in cell ids


# ---------------------------------------------------------------------------
# numpy kernels (used inside pandas UDFs and the python oracle)
# ---------------------------------------------------------------------------

def cell_of(lat, lon, res: int):
    """Vectorized lat/lon -> cell id at resolution ``res``."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    n = np.int64(1) << np.int64(res)
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return np.int64(res) * np.int64(RES_BASE) + iy * n + ix


def cell_decompose(cell, res: int):
    """cell id -> (iy, ix) integer grid coordinates."""
    c = np.asarray(cell, dtype=np.int64) - np.int64(res) * np.int64(RES_BASE)
    n = np.int64(1) << np.int64(res)
    return c // n, c % n


def cell_parent(cell, res: int, parent_res: int):
    """Exact hierarchical parent (iy >> k, ix >> k)."""
    iy, ix = cell_decompose(cell, res)
    k = res - parent_res
    n = np.int64(1) << np.int64(parent_res)
    return np.int64(parent_res) * np.int64(RES_BASE) + (iy >> k) * n + (ix >> k)


def cell_center(cell, res: int):
    """cell id -> (lat, lon) of the cell center."""
    iy, ix = cell_decompose(cell, res)
    n = float(1 << res)
    lat = (iy.astype(np.float64) + 0.5) / n * 180.0 - 90.0
    lon = (ix.astype(np.float64) + 0.5) / n * 360.0 - 180.0
    return lat, lon


def cell_size_deg(res: int) -> tuple[float, float]:
    """(lat_extent, lon_extent) of one cell in degrees."""
    n = float(1 << res)
    return 180.0 / n, 360.0 / n


def ring_cells(cell: int, res: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the (2k+1)^2 disk), lon-wrapped.

    The kNN ring-expansion primitive (BASELINE.json north_star). Latitude
    clamps at the poles; longitude wraps modulo 2^res.
    """
    iy, ix = cell_decompose(np.asarray([cell]), res)
    n = np.int64(1) << np.int64(res)
    d = np.arange(-k, k + 1, dtype=np.int64)
    yy = np.clip(iy[0] + d, 0, n - 1)
    xx = (ix[0] + d) % n
    gy, gx = np.meshgrid(np.unique(yy), np.unique(xx), indexing="ij")
    return (np.int64(res) * np.int64(RES_BASE) + gy * n + gx).ravel()


def cover_bbox(lat_min, lat_max, lon_min, lon_max, res: int) -> np.ndarray:
    """All cells intersecting a bbox (polygon-covering prefilter)."""
    n = np.int64(1) << np.int64(res)
    x0 = int(np.clip(np.floor((lon_min + 180.0) / 360.0 * int(n)), 0, int(n) - 1))
    x1 = int(np.clip(np.floor((lon_max + 180.0) / 360.0 * int(n)), 0, int(n) - 1))
    y0 = int(np.clip(np.floor((lat_min + 90.0) / 180.0 * int(n)), 0, int(n) - 1))
    y1 = int(np.clip(np.floor((lat_max + 90.0) / 180.0 * int(n)), 0, int(n) - 1))
    gy, gx = np.meshgrid(
        np.arange(y0, y1 + 1, dtype=np.int64),
        np.arange(x0, x1 + 1, dtype=np.int64),
        indexing="ij",
    )
    return (np.int64(res) * np.int64(RES_BASE) + gy * n + gx).ravel()


def cover_polygon(rings: list[np.ndarray], res: int) -> np.ndarray:
    """Exact cell cover: bbox cells that actually intersect the polygon.

    For large polygons the bbox cover over-fans candidates quadratically;
    this keeps a cell iff (a) its center or any corner is inside, (b) any
    polygon vertex falls inside the cell, or (c) a polygon edge crosses a
    cell edge — conservative (superset of true intersection is preserved
    via the rectangle-edge crossing test), so PIP refine stays exact.
    """
    from .geometry_cover import rect_intersects_rings  # local import: cycle

    xs = np.concatenate([r[:, 0] for r in rings])
    ys = np.concatenate([r[:, 1] for r in rings])
    cells = cover_bbox(ys.min(), ys.max(), xs.min(), xs.max(), res)
    n = np.int64(1) << np.int64(res)
    iy, ix = cell_decompose(cells, res)
    lat0 = iy.astype(np.float64) / float(n) * 180.0 - 90.0
    lat1 = (iy + 1).astype(np.float64) / float(n) * 180.0 - 90.0
    lon0 = ix.astype(np.float64) / float(n) * 360.0 - 180.0
    lon1 = (ix + 1).astype(np.float64) / float(n) * 360.0 - 180.0
    keep = rect_intersects_rings(lon0, lat0, lon1, lat1, rings)
    return cells[keep]


def equirect_tile(lat, lon, z: int):
    """(tx, ty) slippy tile with equirectangular y (arithmetic-only)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    n = np.int64(1) << np.int64(z)
    tx = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    ty = np.clip(np.floor((90.0 - lat) / 180.0 * n).astype(np.int64), 0, n - 1)
    return tx, ty


def mercator_tile(lat, lon, z: int):
    """(tx, ty) standard OSM Web-Mercator slippy tile."""
    lat = np.clip(np.asarray(lat, dtype=np.float64), -85.05112878, 85.05112878)
    lon = np.asarray(lon, dtype=np.float64)
    n = np.int64(1) << np.int64(z)
    tx = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    lat_rad = np.radians(lat)
    ty_f = (1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad)) / np.pi) / 2.0
    ty = np.clip(np.floor(ty_f * n).astype(np.int64), 0, n - 1)
    return tx, ty


# ---------------------------------------------------------------------------
# SQL-text builders — ONE formula, executed by Spark SQL and DuckDB alike
# ---------------------------------------------------------------------------

def sql_ix(lon_expr: str, res: int) -> str:
    n = 1 << res
    return (
        f"GREATEST(LEAST(CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}) AS BIGINT),"
        f" {n - 1}), 0)"
    )


def sql_iy(lat_expr: str, res: int) -> str:
    n = 1 << res
    return (
        f"GREATEST(LEAST(CAST(FLOOR(({lat_expr} + 90.0) / 180.0 * {n}) AS BIGINT),"
        f" {n - 1}), 0)"
    )


def sql_cell(lat_expr: str, lon_expr: str, res: int) -> str:
    """cell_of as SQL text; identical result to the numpy kernel."""
    n = 1 << res
    return (
        f"(CAST({res} AS BIGINT) * {RES_BASE} + "
        f"{sql_iy(lat_expr, res)} * {n} + {sql_ix(lon_expr, res)})"
    )


def sql_ring_cells(lat_expr: str, lon_expr: str, res: int, k: int) -> str:
    """ring_cells as a SQL array expression (JVM-side, no Python stage).

    Emits the (2k+1)^2 Chebyshev disk with latitude clamped at the poles
    and longitude wrapped, wrapped in array_distinct because clamping can
    collapse rows near the poles — identical cell set to the numpy
    ``ring_cells`` kernel (asserted in tests).
    """
    return sql_ring_cells_grid(
        sql_iy(lat_expr, res), sql_ix(lon_expr, res), res, k)


def sql_ring_cells_grid(iy_expr: str, ix_expr: str, res: int,
                        k: int) -> str:
    """``sql_ring_cells`` over PRE-COMPUTED grid indices.

    Embedding the full lat/lon->grid formulas once per disk cell makes
    the (2k+1)^2 array a multi-KB expression (6.5 KB at k=2) that every
    plan build re-parses; callers that project ``sql_iy``/``sql_ix``
    into named columns first pass the column names here and cut the
    expression ~4x. Same values either way.
    """
    n = 1 << res
    iy, ix = iy_expr, ix_expr
    cells = []
    for dy in range(-k, k + 1):
        yy = f"GREATEST(LEAST({iy} + {dy}, {n - 1}), 0)"
        for dx in range(-k, k + 1):
            xx = f"((({ix} + {dx}) % {n} + {n}) % {n})"
            cells.append(
                f"(CAST({res} AS BIGINT) * {RES_BASE} + {yy} * {n} + {xx})"
            )
    return "array_distinct(array(" + ", ".join(cells) + "))"


def quadkey_of(lat, lon, res: int):
    """Vectorized Bing-style quadkey strings (digit i = 2*bit(iy) + bit(ix),
    most significant level first) for the equirectangular grid."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    n = np.int64(1) << np.int64(res)
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    digits = []
    for level in range(res - 1, -1, -1):
        digits.append(
            (((iy >> level) & 1) * 2 + ((ix >> level) & 1)).astype(np.int64)
        )
    strs = np.array([""] * (lat.size or 1), dtype=object)
    for d in digits:
        strs = strs + np.char.mod("%d", d).astype(object)
    return strs.reshape(lat.shape) if lat.shape else strs[0]


def sql_quadkey(lat_expr: str, lon_expr: str, res: int) -> str:
    """quadkey_of as portable SQL (CONCAT of per-level digit CASEs)."""
    n = 1 << res
    iy = sql_iy(lat_expr, res)
    ix = sql_ix(lon_expr, res)
    parts = []
    for level in range(res - 1, -1, -1):
        d = (
            f"CAST((CAST(FLOOR({iy} / {1 << level}) AS BIGINT) % 2) * 2 "
            f"+ (CAST(FLOOR({ix} / {1 << level}) AS BIGINT) % 2) AS INT)"
        )
        parts.append(f"CAST({d} AS STRING)")
    return "CONCAT(" + ", ".join(parts) + ")"


def sql_cell_parent(cell_expr: str, res: int, parent_res: int) -> str:
    """cell_parent as SQL text.

    All divisions are by powers of two on integers < 2^52, done as
    FLOOR(CAST(x AS DOUBLE) / 2^k) — exact in IEEE double and, unlike the
    ``/`` operator (double in Spark, context-dependent in DuckDB), it
    evaluates identically in both engines.
    """
    n = 1 << res
    pn = 1 << parent_res
    k2 = 1 << (res - parent_res)
    local = f"({cell_expr} - CAST({res} AS BIGINT) * {RES_BASE})"
    iy = f"CAST(FLOOR(CAST({local} AS DOUBLE) / {n}) AS BIGINT)"
    ix = f"({local} % {n})"
    piy = f"CAST(FLOOR(CAST({iy} AS DOUBLE) / {k2}) AS BIGINT)"
    pix = f"CAST(FLOOR(CAST({ix} AS DOUBLE) / {k2}) AS BIGINT)"
    return f"(CAST({parent_res} AS BIGINT) * {RES_BASE} + {piy} * {pn} + {pix})"


def sql_equirect_tile_x(lon_expr: str, z: int) -> str:
    return sql_ix(lon_expr, z)


def sql_equirect_tile_y(lat_expr: str, z: int) -> str:
    n = 1 << z
    return (
        f"GREATEST(LEAST(CAST(FLOOR((90.0 - {lat_expr}) / 180.0 * {n}) AS BIGINT),"
        f" {n - 1}), 0)"
    )


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_of(lat, lon, length: int):
    """Vectorized standard geohashes (base32, lon bit first).

    The textbook successive-bisection encoding is closed-form: with
    B = 5*length total bits, the ceil(B/2) lon bits are the binary
    expansion of floor((lon+180)/360 * 2^nlon) and likewise for lat —
    interleave MSB-first starting with longitude, then map 5-bit groups
    through the geohash alphabet. Matches geohash.org for the shared
    prefix semantics (same cell <=> same prefix).
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    total = 5 * length
    nlon = (total + 1) // 2
    nlat = total // 2
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * (1 << nlon)),
                 0, (1 << nlon) - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * (1 << nlat)),
                 0, (1 << nlat) - 1).astype(np.int64)
    code = np.zeros(lat.shape, dtype=np.int64)
    for i in range(total):
        if i % 2 == 0:
            bit = (ix >> (nlon - 1 - i // 2)) & 1
        else:
            bit = (iy >> (nlat - 1 - i // 2)) & 1
        code = (code << 1) | bit
    out = np.empty(lat.shape, dtype=object)
    flat_code = code.ravel()
    flat_out = out.ravel()
    for j in range(flat_code.shape[0]):
        c = int(flat_code[j])
        flat_out[j] = "".join(
            GEOHASH_ALPHABET[(c >> (5 * (length - 1 - k))) & 31]
            for k in range(length)
        )
    return out


def sql_geohash(lat_expr: str, lon_expr: str, length: int) -> str:
    """geohash_of as portable SQL (evaluates identically in Spark SQL and
    DuckDB): per-character CONCAT of SUBSTR lookups into the alphabet,
    each 5-bit group summed from FLOOR-division parity bits — the same
    exact-in-double arithmetic family as ``sql_quadkey``.
    """
    total = 5 * length
    nlon = (total + 1) // 2
    nlat = total // 2
    ix = (
        f"GREATEST(LEAST(CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * "
        f"{1 << nlon}) AS BIGINT), {(1 << nlon) - 1}), 0)"
    )
    iy = (
        f"GREATEST(LEAST(CAST(FLOOR(({lat_expr} + 90.0) / 180.0 * "
        f"{1 << nlat}) AS BIGINT), {(1 << nlat) - 1}), 0)"
    )
    chars = []
    for k in range(length):
        terms = []
        for b in range(5):
            i = 5 * k + b            # stream bit index, MSB first
            if i % 2 == 0:
                src, shift = ix, nlon - 1 - i // 2
            else:
                src, shift = iy, nlat - 1 - i // 2
            bit = (
                f"(CAST(FLOOR(CAST({src} AS DOUBLE) / {1 << shift}) "
                f"AS BIGINT) % 2)"
            )
            terms.append(f"{bit} * {1 << (4 - b)}")
        v = " + ".join(terms)
        chars.append(
            f"SUBSTR('{GEOHASH_ALPHABET}', CAST({v} AS INT) + 1, 1)")
    return "CONCAT(" + ", ".join(chars) + ")"


# ---------------------------------------------------------------------------
# hexagonal binning — H3-style hex topology with EXACT integer assignment
# ---------------------------------------------------------------------------

HEX_W = 56   # within-row center spacing (odd-row parity shift = w/2 = 28)
HEX_VY = 48  # row spacing; w < sqrt(3)*vy keeps the 4-candidate set sufficient


def hex_candidates_sql(x_col: str, y_col: str) -> list[str]:
    """SQL for the 4 candidate hex centers (r, c, d2) of a lattice point.

    Hexagonal cells are the Voronoi regions of a triangular center
    lattice: centers at (c*w + (r%2)*w/2, r*vy) — odd rows staggered by
    half the column spacing. On DOUBLED x coordinates everything is
    integer (the stagger contributes 2*(w/2) = w), so the nearest-center
    choice is exact in BIGINT. Sufficiency of the 4-candidate set
    {r0, r0+1} x {c0, c0+1}: the bracketing rows hold a center within
    sqrt((vy/2)^2 + (w/2)^2) of the point while any other row is at
    least vy away, so w*w < 3*vy*vy (strict — no cross-row d2 ties)
    guarantees the true argmin is among the candidates; within a row the
    floor/floor+1 columns bracket x, so each row's nearest center is
    always included. (Integer spacings make the cells slightly
    stretched hexagons — vy/w = 6/7 vs the regular sqrt(3)/2 — topology
    and neighbor structure identical to a regular hex grid.)
    Requires x, y >= 0 (the engine's lattice domain).
    """
    assert HEX_W * HEX_W < 3 * HEX_VY * HEX_VY, \
        "4-candidate sufficiency needs w < sqrt(3)*vy"
    out = []
    for r_off in (0, 1):
        for c_off in (0, 1):
            r = f"(({y_col}) div {HEX_VY} + {r_off})"
            sx = f"(({r}) % 2) * {HEX_W}"
            # column bracketing needs FLOOR division, but the numerator
            # 2x - sx can be negative (odd rows, x < w/2) where Spark's
            # `div` truncates toward zero while DuckDB's `//` floors.
            # Shifting the numerator by +2w (one whole period, subtracted
            # back from c) keeps it positive for every x >= 0, so both
            # engines' operators agree exactly — no divergence zone.
            c = (f"((2 * ({x_col}) - {sx} + {2 * HEX_W}) div {2 * HEX_W}"
                 f" - 1 + {c_off})")
            cx2 = f"(2 * ({c}) * {HEX_W} + {sx})"
            cy2 = f"(2 * ({r}) * {HEX_VY})"
            d2 = (f"((2 * ({x_col}) - {cx2}) * (2 * ({x_col}) - {cx2}) + "
                  f"(2 * ({y_col}) - {cy2}) * (2 * ({y_col}) - {cy2}))")
            out.append(f"struct({d2} AS d2, {r} AS hr, {c} AS hc)")
    return out


def hex_bin(points):
    """(id, hr, hc, d2): each point's hexagonal bin, exact integers.

    One projection: array_min over the 4 candidate structs picks the
    lexicographically smallest (d2, hr, hc) — nearest center with a
    deterministic tie-break, all JVM-side, no join, no shuffle.
    """
    from pyspark.sql import functions as F

    cands = ", ".join(hex_candidates_sql("ix", "iy"))
    return points.select(
        "point_id",
        F.expr(f"array_min(array({cands}))").alias("_b"),
    ).select(
        "point_id",
        F.col("_b.hr").alias("hr"),
        F.col("_b.hc").alias("hc"),
        F.col("_b.d2").alias("d2"),
    )
