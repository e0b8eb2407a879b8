"""Point-in-polygon join: cell-prefilter candidates + exact ray-crossing refine.

Two-phase plan mandated by BASELINE.json north_rule:

1. **Coarse**: cover each admin polygon (its bbox, or its exact cell cover)
   with grid cells at ``res``, driver-side — the admin set is the small
   dimension. The cover ships in the stage's closure as two arrays sorted
   by cell, and each point's candidate polygons are the cover rows of its
   cell, found with ``np.searchsorted``.
2. **Refine**: exact even-odd ray-crossing test (``pip_mask``), once per
   admin over that admin's candidates in the batch.

``pip_join`` runs both phases in ONE ``mapInArrow`` stage over the points:
no join, no broadcast exchange, no JVM cell column, and every point
crosses the JVM/Python boundary once. The stage keeps the points in their
partitions, so the big side never shuffles. ``pip_join_large`` keeps a
shuffle equi-join on the cell for polygon tables too big for the driver.

The coarse phase can only produce false positives (cover ⊇ polygon),
never false negatives, so refine output equals the exact join.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.cells import cell_of, cover_bbox, cover_polygon, sql_cell
from ..functions.geometry import GEOM_STRUCT, pip_mask, wire_bbox, wire_rings


def polygon_coverings(admin_pdf: pd.DataFrame, res: int,
                      exact: bool = False) -> pd.DataFrame:
    """(admin_id, cell) cover rows of the polygon side.

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


def _coords(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) of a batch as float64 arrays; nulls read as NaN."""
    return tuple(
        np.asarray(batch.column(c).to_numpy(zero_copy_only=False),
                   dtype=np.float64)
        for c in ("lon", "lat"))


def _inside(px: np.ndarray, py: np.ndarray, admin_ids: np.ndarray,
            rings_of) -> np.ndarray:
    """Mask of candidates ``i`` whose point (px[i], py[i]) lies in polygon
    ``admin_ids[i]``: one argsort, then one ``pip_mask`` per admin over
    its candidates. ``rings_of(i)`` gives the rings of candidate i's
    polygon; it is called once per admin, with that admin's first
    candidate."""
    keep = np.zeros(len(admin_ids), dtype=bool)
    if not len(admin_ids):
        return keep
    order = np.argsort(admin_ids, kind="stable")
    ids = admin_ids[order]
    for g in np.split(order, np.flatnonzero(ids[1:] != ids[:-1]) + 1):
        keep[g] = pip_mask(px[g], py[g], rings_of(g[0]))
    return keep


def _pip_batch(batch: pa.RecordBatch, res: int, cells: np.ndarray,
               cell_admin: np.ndarray,
               rings: dict[int, list[np.ndarray]]) -> pa.RecordBatch:
    """One Arrow batch of points -> its (point, containing polygon) rows:
    every input column unchanged plus ``admin_id``. ``cells`` is the
    cover's cell column sorted ascending and ``cell_admin`` its admin_id
    column in the same order. A point with a null or non-finite lon or
    lat has no cell and yields no row."""
    lon, lat = _coords(batch)
    pts = np.flatnonzero(np.isfinite(lon) & np.isfinite(lat))
    pc = cell_of(lat[pts], lon[pts], res)
    lo = np.searchsorted(cells, pc, "left")
    n = np.searchsorted(cells, pc, "right") - lo
    # candidate k: point pt[k] against cover row at[k]
    pt = np.repeat(pts, n)
    at = np.arange(len(pt)) + np.repeat(lo - (np.cumsum(n) - n), n)
    admin = cell_admin[at]
    keep = _inside(lon[pt], lat[pt], admin, lambda i: rings[int(admin[i])])
    out = batch.take(pa.array(pt[keep], pa.int64()))
    return pa.RecordBatch.from_arrays(
        out.columns + [pa.array(admin[keep], pa.int64())],
        names=batch.schema.names + ["admin_id"])


def pip_join_large(points_df, polygons_df, res: int):
    """PIP join where BOTH sides are distributed tables.

    ``pip_join`` assumes the polygon side fits on the driver; at 100 TB
    the polygon table can itself be huge (parcel or building footprints),
    so here:

    1. each polygon row explodes to its bbox cell cover in an Arrow stage
       (cover size bounded by the polygon's extent at ``res``);
    2. points get their cell column JVM-side (one expression, no UDF);
    3. a shuffle equi-join on cell co-locates candidates — AQE splits
       skewed cells; optionally pre-salt hot cells upstream;
    4. exact refine runs per batch of candidates, reading each
       candidate's polygon from the ``geom`` carried alongside, so there
       is no second pass over the polygon table.

    ``polygons_df`` needs (admin_id, geom wire-struct). Output: point_id +
    admin_id, exact (bbox cover ⊇ polygon ⇒ no false negatives; refine
    removes false positives). Duplicate candidates (a point meeting the
    same polygon in several cover cells) are impossible: a point lies in
    exactly one cell at ``res``.
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

    def refine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            lon, lat = _coords(batch)
            geom = batch.column("geom")
            keep = _inside(lon, lat, batch.column("admin_id").to_numpy(),
                           lambda i: _rings(geom[int(i)].as_py()))
            yield batch.select(["point_id", "admin_id"]).filter(pa.array(keep))

    poly_cover = polygons_df.select("admin_id", "geom").mapInPandas(
        cover, f"admin_id long, cell long, geom {GEOM_STRUCT}"
    )
    pts = points_df.withColumn("cell", F.expr(sql_cell("lat", "lon", res)))
    candidates = pts.join(poly_cover, "cell").select(
        "point_id", "admin_id", "lon", "lat", "geom")
    return candidates.mapInArrow(
        refine, candidates.select("point_id", "admin_id").schema)


def pip_join(points_df, admin_pdf: pd.DataFrame, res: int = 8,
             exact_cover: bool = False):
    """Exact PIP join of a points DataFrame against a small polygon table.

    ``admin_pdf`` is a pandas frame (admin_id, geom wire-struct), the
    driver-side dimension. Returns the points' rows + ``admin_id``, one
    output row per (point, containing polygon), from one ``mapInArrow``
    stage over the points (``_pip_batch``); the cover arrays and the
    rings travel in its closure.
    """
    cover = polygon_coverings(admin_pdf, res, exact_cover).sort_values(
        "cell", kind="stable")
    cells = cover["cell"].to_numpy(dtype=np.int64)
    cell_admin = cover["admin_id"].to_numpy(dtype=np.int64)
    rings = {
        int(admin_id): _rings(geom)
        for admin_id, geom in zip(admin_pdf["admin_id"], admin_pdf["geom"])
    }
    schema = StructType(
        [StructField(f.name, f.dataType) for f in points_df.schema.fields]
        + [StructField("admin_id", LongType())])

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _pip_batch(batch, res, cells, cell_admin, rings)

    return points_df.mapInArrow(gen, schema)
