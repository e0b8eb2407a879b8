"""Geometry simplification — Douglas-Peucker over wire-struct columns.

The per-zoom reduction stage of tile materialization: before encoding a
LineString/Polygon into a coarse-zoom tile, drop vertices whose removal
changes the drawn shape by less than a pixel. The reference encodes at a
fixed precision (src/geobuf/geobuf.cpp precision loop); simplification
is the complementary vertex-count reduction a tiling pipeline runs first
(the geobuf wire then delta-codes the survivors — fewer, larger deltas).

Implementation: an ITERATIVE Douglas-Peucker (explicit stack, no
recursion-depth hazard on 10^6-vertex lines) on the (n, dim) numpy view
of the wire coords — one vectorized perpendicular-distance sweep per
stack segment. Applied per geometry inside mapInPandas, so the operator
scales embarrassingly: no shuffle, no state, partition = batch of
geometries.

Guarantees (pytest-verified):
  * endpoints always survive;
  * every dropped vertex is within ``tolerance`` of the kept polyline
    (the classic DP error bound);
  * idempotent: simplify(simplify(g, t), t) == simplify(g, t);
  * rings keep their closing vertex and stay >= 4 points (validity);
  * Points / MultiPoints pass through untouched.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.geometry import (
    TYPE_LINESTRING,
    TYPE_MULTILINESTRING,
    TYPE_POLYGON,
)


def dp_mask(pts: np.ndarray, tol: float) -> np.ndarray:
    """Boolean keep-mask for one open polyline (n, 2) — iterative DP."""
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    if n <= 2:
        return keep
    tol2 = tol * tol
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        seg = pts[i + 1:j]
        a, b = pts[i], pts[j]
        ab = b - a
        denom = float(ab @ ab)
        if denom == 0.0:
            # degenerate anchor pair: fall back to point distance
            d2 = ((seg - a) ** 2).sum(axis=1)
        else:
            t = np.clip(((seg - a) @ ab) / denom, 0.0, 1.0)
            proj = a + t[:, None] * ab
            d2 = ((seg - proj) ** 2).sum(axis=1)
        k = int(np.argmax(d2))
        if d2[k] > tol2:
            mid = i + 1 + k
            keep[mid] = True
            stack.append((i, mid))
            stack.append((mid, j))
    return keep


def simplify_wire(t: int, dim: int, lengths, coords, tol: float):
    """Simplify one wire geometry; returns (lengths, coords) lists.

    LineString parts keep >= 2 points; polygon rings are simplified on
    their open form (closing vertex re-appended) and keep >= 4 points
    (degenerate rings collapse to the ring's first 3 distinct vertices
    plus close — still within tolerance by the DP bound).
    """
    if t not in (TYPE_LINESTRING, TYPE_MULTILINESTRING, TYPE_POLYGON):
        return list(lengths), list(coords)
    mat = np.asarray(coords, dtype=np.float64).reshape(-1, int(dim))
    parts = list(lengths) if len(lengths) else [len(mat)]
    out_lengths: list[int] = []
    out_coords: list[np.ndarray] = []
    pos = 0
    ring = t == TYPE_POLYGON
    for ln in parts:
        part = mat[pos:pos + ln]
        pos += ln
        if ring:
            open_part = part[:-1]           # drop the closing vertex
            if len(open_part) <= 3:
                kept = part
            else:
                mask = dp_mask(open_part[:, :2], tol)
                # ring validity: ensure >= 3 open vertices survive
                if mask.sum() < 3:
                    extra = np.where(~mask)[0]
                    mask[extra[: 3 - int(mask.sum())]] = True
                kept = np.vstack([open_part[mask], part[-1:]])
        else:
            mask = dp_mask(part[:, :2], tol)
            kept = part[mask]
        out_lengths.append(len(kept))
        out_coords.append(kept)
    flat = np.vstack(out_coords).reshape(-1) if out_coords else np.empty(0)
    return out_lengths, flat.tolist()


def simplify_lines(df: DataFrame, tolerance: float) -> DataFrame:
    """DataFrame operator: simplify the wire-struct ``geom`` column in place.

    mapInPandas keeps the schema; Arrow batches amortize the per-geometry
    Python cost, and the numpy kernel is vectorized per DP segment.
    """
    schema = df.schema
    names = [f.name for f in schema.fields]
    gi = names.index("geom")
    tol = float(tolerance)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            geoms = pdf.iloc[:, gi]
            new = []
            for g in geoms:
                t, dim = int(g["type"]), int(g["dim"])
                lengths, coords = simplify_wire(
                    t, dim, g["lengths"], g["coords"], tol
                )
                new.append({"type": t, "dim": dim,
                            "lengths": lengths, "coords": coords})
            pdf = pdf.copy()
            pdf.iloc[:, gi] = new
            yield pdf

    return df.mapInPandas(run, schema)


def simplify_geojson(doc: dict, tolerance: float) -> dict:
    """Simplify every simplifiable geometry in a GeoJSON document.

    The CLI-side scalar twin of ``simplify_lines`` (same kernel via the
    wire round trip): Features / FeatureCollections / GeometryCollections
    recurse; Point-like geometries pass through. Used by the
    ``json2geobuf --simplify`` CLI flag — simplify-then-encode is the
    standard pre-tiling reduction (fewer vertices -> fewer, larger wire
    deltas).
    """
    from ..functions.geometry import geojson_to_wire, wire_to_geojson

    t = doc.get("type")
    if t == "FeatureCollection":
        return {**doc, "features": [
            simplify_geojson(f, tolerance) for f in doc["features"]]}
    if t == "Feature":
        geom = doc.get("geometry")
        return {**doc, "geometry":
                simplify_geojson(geom, tolerance) if geom else geom}
    if t == "GeometryCollection":
        return {**doc, "geometries": [
            simplify_geojson(g, tolerance) for g in doc["geometries"]]}
    if t in ("LineString", "MultiLineString", "Polygon", "MultiPolygon"):
        if t == "MultiPolygon":   # per-polygon: ring semantics per part
            return {**doc, "coordinates": [
                simplify_geojson(
                    {"type": "Polygon", "coordinates": p}, tolerance
                )["coordinates"]
                for p in doc["coordinates"]]}
        wt, dim, lengths, coords = geojson_to_wire(doc)
        lengths2, coords2 = simplify_wire(wt, dim, lengths, coords,
                                          float(tolerance))
        return wire_to_geojson(wt, dim, lengths2, coords2)
    return doc
