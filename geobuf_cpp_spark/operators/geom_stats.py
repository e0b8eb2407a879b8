"""Geometry statistics over wire-struct columns (Arrow-batched).

``areas`` computes the planar shoelace area per polygon row — exact for
integer-valued coordinates (every product/sum representable), which the
``admin_areas`` gate exploits: the Spark side runs the general shoelace
over the REAL wire geometry, the DuckDB oracle the closed-form box area;
bit-equality holds because both reduce to exact float arithmetic.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from ..functions.geometry import polygon_area, wire_rings


def areas(polygons_df):
    """(id, area) per polygon row."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, out = [], []
            for pid, geom in zip(pdf["admin_id"], pdf["geom"]):
                rings = wire_rings(
                    geom["type"], geom["dim"], geom["lengths"], geom["coords"]
                )
                ids.append(int(pid))
                out.append(polygon_area(rings))
            yield pd.DataFrame({"admin_id": ids, "area": out})

    return polygons_df.select("admin_id", "geom").mapInPandas(
        gen, "admin_id long, area double"
    )


def sql_bbox_exprs() -> list[str]:
    """JVM-side bounding box of a wire-struct geometry — pure Spark SQL
    array expressions, NO Python stage anywhere.

    The wire layout packs coords as [x0, y0(, z0), x1, y1, ...]; the
    bbox is a filter on index parity + array_min/array_max — evaluated
    entirely JVM-side (higher-order array functions run interpreted but
    never cross into Python), so at corpus scale this is a single
    scan-side projection (the Python-kernel path exists for ops that
    genuinely need numpy; a bbox does not).
    """
    def axis(sel: str, agg: str, name: str) -> str:
        return (
            f"{agg}(filter(transform(geom.coords, (c, i) -> "
            f"struct(c AS c, i AS i)), s -> s.i % geom.dim = {sel})."
            f"c) AS {name}"
        )

    return [
        axis("0", "array_min", "xmin"),
        axis("1", "array_min", "ymin"),
        axis("0", "array_max", "xmax"),
        axis("1", "array_max", "ymax"),
    ]


def bboxes(geoms_df):
    """(id, xmin, ymin, xmax, ymax) per geometry row, all JVM-side."""
    return geoms_df.selectExpr("line_id", *sql_bbox_exprs())


def centroids(polygons_df):
    """Multi-ring polygon centroid in exact scaled parts.

    Per row: (id, area, cx6, cy6) where area follows ``polygon_area``'s
    outer-minus-holes convention and cx6 = 6 * area * Cx (cy6 likewise)
    — the shoelace centroid numerator BEFORE the final division, exact
    in doubles for integer-valued coordinates (every term is a sum of
    triple products of exactly-representable values). The caller divides
    cx6 / (6 * area) for the float centroid; the gate compares the exact
    parts, the same discipline as ``group_trend``.

    Ring orientation is normalized per ring (sign of its own signed
    area), so CW and CCW inputs agree: each ring's 6*|A_r|*Cx_r equals
    sign(sa_r) * raw_r; the first ring adds, later rings (holes,
    GeoJSON contract) subtract.
    """
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, areas_, cx6s, cy6s = [], [], [], []
            for pid, geom in zip(pdf["admin_id"], pdf["geom"]):
                rings = wire_rings(
                    geom["type"], geom["dim"], geom["lengths"], geom["coords"]
                )
                area = cx6 = cy6 = 0.0
                for k, ring in enumerate(rings):
                    x, y = ring[:, 0], ring[:, 1]
                    x2, y2 = np.roll(x, -1), np.roll(y, -1)
                    cross = x * y2 - x2 * y
                    sa = float(np.sum(cross))          # 2 * signed area
                    raw_x = float(np.sum(cross * (x + x2)))
                    raw_y = float(np.sum(cross * (y + y2)))
                    sgn = 1.0 if sa >= 0 else -1.0
                    outer = 1.0 if k == 0 else -1.0
                    area += outer * abs(sa) / 2.0
                    cx6 += outer * sgn * raw_x
                    cy6 += outer * sgn * raw_y
                ids.append(int(pid))
                areas_.append(area)
                cx6s.append(cx6)
                cy6s.append(cy6)
            yield pd.DataFrame(
                {"admin_id": ids, "area": areas_, "cx6": cx6s, "cy6": cy6s}
            )

    return polygons_df.select("admin_id", "geom").mapInPandas(
        gen, "admin_id long, area double, cx6 double, cy6 double"
    )
