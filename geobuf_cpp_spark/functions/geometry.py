"""Wire-shaped geometry struct + exact spatial predicates (numpy kernels).

The engine's geometry column is deliberately the *wire* shape of the geobuf
codec — ``STRUCT<type: TINYINT, dim: TINYINT, lengths: ARRAY<INT>,
coords: ARRAY<DOUBLE>>`` — one flat packed coordinate array plus part
lengths, mirroring the encoder's internal layout
(reference src/geobuf/geobuf.cpp:489-528) and the zero-copy Eigen/numpy
N×3 views of the binding (src/geobuf/geojson_helpers.hpp:19-80). This is
Arrow-friendly (no nested arrays of arrays of structs), feeds the encode
UDF without reshaping, and reinterprets as an (n, dim) numpy matrix with
zero copy inside pandas UDFs.

Unlike the codec wire format, the struct always carries explicit lengths
(no omission rules) and rings KEEP their closing point; the codec layer
owns those encode-time transformations.

Lengths layout by type code (same enum as the codec, geobuf.cpp:410-442):
  0 Point               []                       coords = [x, y(, z)]
  1 MultiPoint          [n_points]
  2 LineString          [n_points]
  3 MultiLineString     [len_1, ..., len_k]      (points per part)
  4 Polygon             [len_1, ..., len_k]      (points per ring, closed)
  5 MultiPolygon        [n_polys, n_rings, ring sizes..., n_rings, ...]
  6 GeometryCollection  not representable flat — rows explode to parts
"""

from __future__ import annotations

import numpy as np

# the struct above as a Spark DDL type, for every schema that carries a geometry
GEOM_STRUCT = (
    "struct<type: tinyint, dim: tinyint, lengths: array<int>, coords: array<double>>"
)

TYPE_POINT = 0
TYPE_MULTIPOINT = 1
TYPE_LINESTRING = 2
TYPE_MULTILINESTRING = 3
TYPE_POLYGON = 4
TYPE_MULTIPOLYGON = 5

_NAME_TO_CODE = {
    "Point": 0,
    "MultiPoint": 1,
    "LineString": 2,
    "MultiLineString": 3,
    "Polygon": 4,
    "MultiPolygon": 5,
}
_CODE_TO_NAME = {v: k for k, v in _NAME_TO_CODE.items()}


def geojson_to_wire(geom: dict) -> tuple[int, int, list[int], list[float]]:
    """GeoJSON geometry dict -> (type, dim, lengths, flat coords)."""
    t = _NAME_TO_CODE[geom["type"]]
    c = geom["coordinates"]
    if t == TYPE_POINT:
        pts = [c]
    elif t in (TYPE_MULTIPOINT, TYPE_LINESTRING):
        pts = list(c)
    elif t in (TYPE_MULTILINESTRING, TYPE_POLYGON):
        pts = [p for ring in c for p in ring]
    else:
        pts = [p for poly in c for ring in poly for p in ring]
    dim = 3 if any(len(p) > 2 and p[2] != 0 for p in pts) else 2
    flat: list[float] = []
    for p in pts:
        flat.extend(p[:dim])
        if len(p) < dim:
            flat.extend([0.0] * (dim - len(p)))
    if t == TYPE_POINT:
        lengths: list[int] = []
    elif t in (TYPE_MULTIPOINT, TYPE_LINESTRING):
        lengths = [len(c)]
    elif t in (TYPE_MULTILINESTRING, TYPE_POLYGON):
        lengths = [len(ring) for ring in c]
    else:
        lengths = []
        lengths.append(len(c))
        for poly in c:
            lengths.append(len(poly))
            lengths.extend(len(ring) for ring in poly)
    return t, dim, lengths, flat


def wire_to_geojson(t: int, dim: int, lengths, coords) -> dict:
    """(type, dim, lengths, flat coords) -> GeoJSON geometry dict."""
    mat = np.asarray(coords, dtype=np.float64).reshape(-1, dim)

    def pts(a, b):
        return [list(p) for p in mat[a:b].tolist()]

    if t == TYPE_POINT:
        return {"type": "Point", "coordinates": list(mat[0])}
    if t in (TYPE_MULTIPOINT, TYPE_LINESTRING):
        return {"type": _CODE_TO_NAME[t], "coordinates": pts(0, mat.shape[0])}
    if t in (TYPE_MULTILINESTRING, TYPE_POLYGON):
        rings = []
        at = 0
        for ln in lengths:
            rings.append(pts(at, at + ln))
            at += ln
        return {"type": _CODE_TO_NAME[t], "coordinates": rings}
    # MultiPolygon
    polys = []
    at = 0
    j = 1
    for _ in range(int(lengths[0])):
        n_rings = int(lengths[j])
        j += 1
        poly = []
        for _ in range(n_rings):
            ln = int(lengths[j])
            j += 1
            poly.append(pts(at, at + ln))
            at += ln
        polys.append(poly)
    return {"type": "MultiPolygon", "coordinates": polys}


def wire_rings(t: int, dim: int, lengths, coords) -> list[np.ndarray]:
    """Polygon/MultiPolygon wire struct -> list of (n, 2) xy ring matrices."""
    mat = np.asarray(coords, dtype=np.float64).reshape(-1, dim)[:, :2]
    rings = []
    if t == TYPE_POLYGON:
        at = 0
        for ln in lengths:
            rings.append(mat[at : at + ln])
            at += ln
    elif t == TYPE_MULTIPOLYGON:
        at = 0
        j = 1
        for _ in range(int(lengths[0])):
            n_rings = int(lengths[j])
            j += 1
            for _ in range(n_rings):
                ln = int(lengths[j])
                j += 1
                rings.append(mat[at : at + ln])
                at += ln
    else:
        raise ValueError(f"not a polygonal type: {t}")
    return rings


def wire_bbox(dim: int, coords) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of a wire geometry."""
    mat = np.asarray(coords, dtype=np.float64).reshape(-1, dim)
    return (
        float(mat[:, 0].min()),
        float(mat[:, 1].min()),
        float(mat[:, 0].max()),
        float(mat[:, 1].max()),
    )


# ---------------------------------------------------------------------------
# exact point-in-polygon (ray crossing, even-odd rule)
# ---------------------------------------------------------------------------

def pip_mask(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Vectorized even-odd ray-crossing test.

    ``px, py``: (n,) point coordinates (lon, lat). ``rings``: closed (m, 2)
    xy matrices — shell(s) and holes together; the even-odd rule handles
    holes without ring classification. Points exactly on a right-hand edge
    follow the half-open convention (each edge counted once).
    """
    inside = np.zeros(px.shape[0], dtype=bool)
    for ring in rings:
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        # (n_pts, n_edges) crossing test
        cond = (y1[None, :] > py[:, None]) != (y2[None, :] > py[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1)[None, :] * (py[:, None] - y1[None, :]) / (y2 - y1)[
                None, :
            ] + x1[None, :]
        crossings = (cond & (px[:, None] < xint)).sum(axis=1)
        inside ^= (crossings % 2).astype(bool)
    return inside


def point_in_wire_polygon(px, py, t, dim, lengths, coords) -> np.ndarray:
    return pip_mask(
        np.asarray(px, dtype=np.float64),
        np.asarray(py, dtype=np.float64),
        wire_rings(t, dim, lengths, coords),
    )


def ring_area_signed(ring: np.ndarray) -> float:
    """Shoelace area of one (n, 2) ring, positive CCW.

    Vectorized cross-sum; with integer-valued coordinates every product
    and the running sum are exact in IEEE doubles, which is what lets the
    admin-box gate compare against a closed-form oracle bit-for-bit.
    """
    x, y = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    return float(np.sum(x * y2 - x2 * y) / 2.0)


def polygon_area(rings: list[np.ndarray]) -> float:
    """Planar polygon area: |outer| minus holes (even-odd convention —
    each ring contributes its absolute area with alternating sign by
    nesting is not tracked; for the engine's wire polygons the first ring
    is the outer shell and the rest are holes, the GeoJSON contract)."""
    if not rings:
        return 0.0
    total = abs(ring_area_signed(rings[0]))
    for hole in rings[1:]:
        total -= abs(ring_area_signed(hole))
    return total
