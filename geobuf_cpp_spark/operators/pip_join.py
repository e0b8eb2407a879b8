"""Point-in-polygon join: cell-prefilter equi-join + exact ray-crossing refine.

Two-phase plan mandated by BASELINE.json north_rule:

1. **Coarse**: cover each admin polygon's bbox with grid cells at ``res``
   (driver-side — the admin set is the small dimension), broadcast the
   (cell, admin_id) covering, and equi-join against the points' cell column.
   Catalyst turns this into a BroadcastHashJoin — no shuffle of the big side.
2. **Refine**: exact even-odd ray-crossing test in an Arrow-batched
   ``mapInPandas``, vectorized per admin_id group within each batch.

The coarse phase can only produce false positives (bbox cover ⊇ polygon),
never false negatives, so refine output equals the exact join.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..functions.cells import cover_bbox, cover_polygon, sql_cell
from ..functions.geometry import GEOM_STRUCT, pip_mask, wire_bbox, wire_rings


def polygon_coverings(admin_pdf: pd.DataFrame, res: int,
                      exact: bool = False) -> pd.DataFrame:
    """(admin_id, cell) cover rows for the broadcast side.

    ``exact=True`` keeps only cells actually intersecting the polygon
    (functions.cells.cover_polygon) — worth it when polygons are much
    smaller than their bbox (coastlines, multipolygons); bbox cover is
    cheaper to build for compact shapes.
    """
    rows = []
    for admin_id, geom in zip(admin_pdf["admin_id"], admin_pdf["geom"]):
        if exact:
            cells = cover_polygon(_rings(geom), res)
        else:
            lon0, lat0, lon1, lat1 = wire_bbox(geom["dim"], geom["coords"])
            cells = cover_bbox(lat0, lat1, lon0, lon1, res)
        for cell in cells:
            rows.append((int(admin_id), int(cell)))
    return pd.DataFrame(rows, columns=["admin_id", "cell"])


def _rings(geom) -> list[np.ndarray]:
    return wire_rings(geom["type"], geom["dim"], geom["lengths"], geom["coords"])


def _refine(candidates, out_cols: list[str],
            rings: dict[int, list[np.ndarray]] | None = None):
    """Exact refine: keep the candidate rows whose point lies in their
    ``admin_id`` polygon, projected to ``out_cols``. The rings come from
    ``rings`` (admin_id -> rings) when given, else from each candidate
    row's ``geom``. Vectorized per admin_id group within each batch."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in candidates.schema.fields
        if f.name in out_cols
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = np.zeros(len(pdf), dtype=bool)
            px = pdf["lon"].to_numpy(dtype=np.float64)
            py = pdf["lat"].to_numpy(dtype=np.float64)
            for admin_id, idx in pdf.groupby("admin_id").indices.items():
                poly = (rings[int(admin_id)] if rings is not None
                        else _rings(pdf["geom"].iloc[idx[0]]))
                keep[idx] = pip_mask(px[idx], py[idx], poly)
            yield pdf.loc[keep, out_cols]

    return candidates.mapInPandas(refine, out_schema)


def pip_join_large(points_df, polygons_df, res: int):
    """PIP join where BOTH sides are distributed tables.

    The broadcast variant (``pip_join``) assumes the polygon side fits on
    the driver; at 100 TB the polygon table can itself be huge (parcel or
    building footprints), so here:

    1. each polygon row explodes to its bbox cell cover in an Arrow stage
       (cover size bounded by the polygon's extent at ``res``);
    2. points get their cell column JVM-side (one expression, no UDF);
    3. a shuffle equi-join on cell co-locates candidates — AQE splits
       skewed cells; optionally pre-salt hot cells upstream;
    4. exact refine runs co-grouped per cell with the polygon geometry
       carried alongside, so no second pass over the polygon table.

    ``polygons_df`` needs (admin_id, geom wire-struct). Output: point key
    columns + admin_id, exact (bbox cover ⊇ polygon ⇒ no false negatives;
    refine removes false positives). Duplicate candidates (a point meeting
    the same polygon in several cover cells) are impossible: a point lies
    in exactly one cell at ``res``.
    """

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for admin_id, geom in zip(pdf["admin_id"], pdf["geom"]):
                lon0, lat0, lon1, lat1 = wire_bbox(geom["dim"], geom["coords"])
                for cell in cover_bbox(lat0, lat1, lon0, lon1, res):
                    rows.append(
                        {"admin_id": int(admin_id), "cell": int(cell), "geom": geom}
                    )
            yield pd.DataFrame(rows, columns=["admin_id", "cell", "geom"])

    poly_cover = polygons_df.select("admin_id", "geom").mapInPandas(
        cover, f"admin_id long, cell long, geom {GEOM_STRUCT}"
    )
    pts = points_df.withColumn("cell", F.expr(sql_cell("lat", "lon", res)))
    candidates = pts.join(poly_cover, "cell")
    return _refine(candidates, ["point_id", "admin_id"])


def pip_join(points_df, admin_pdf: pd.DataFrame, res: int = 8,
             exact_cover: bool = False):
    """Exact PIP join of a points DataFrame against a small polygon table.

    ``admin_pdf`` is a pandas frame (admin_id, geom wire-struct) — the
    broadcast dimension. Returns points rows + ``admin_id``, one output row
    per (point, containing polygon).

    The broadcast hash join has no reducers — candidates stay in the
    points' partitions, so the refine stage runs without a shuffle.
    """
    spark = points_df.sparkSession
    cover = spark.createDataFrame(polygon_coverings(admin_pdf, res, exact_cover))
    rings = {
        int(admin_id): _rings(geom)
        for admin_id, geom in zip(admin_pdf["admin_id"], admin_pdf["geom"])
    }
    pts = points_df.withColumn("cell", F.expr(sql_cell("lat", "lon", res)))
    candidates = pts.join(F.broadcast(cover), "cell")
    out_cols = [c for c in candidates.columns if c != "cell"]
    return _refine(candidates, out_cols, rings)
