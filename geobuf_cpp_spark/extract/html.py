"""Web-page geometry + text extraction (the engine's reference extractor).

Mandated by BASELINE.json north_star: extract geotagged coordinates
(``geo.position`` / ICBM meta tags), embedded GeoJSON blocks
(``application/geo+json`` scripts), and JSON-LD GeoCoordinates microdata
from Common-Crawl-style pages, with byte-identical extracted text per url.

This module IS the locked reference implementation both for tests and for
the per-url "byte-identical extracted text" invariant — it is deliberately
regex-based, dependency-free, and deterministic. The Spark layer wraps
these functions in an Arrow-batched ``mapInArrow`` stage (no per-row
Python at the DataFrame API surface).
"""

from __future__ import annotations

import json
import re

_RE_META_GEO = re.compile(
    r'<meta\s+name="geo\.position"\s+content="([^";]+);([^"]+)"\s*/?>', re.I
)
_RE_META_ICBM = re.compile(
    r'<meta\s+name="ICBM"\s+content="([^",]+),\s*([^"]+)"\s*/?>', re.I
)
_RE_GEOJSON = re.compile(
    r'<script\s+type="application/geo\+json">(.*?)</script>', re.S | re.I
)
_RE_JSONLD = re.compile(
    r'<script\s+type="application/ld\+json">(.*?)</script>', re.S | re.I
)
_RE_SCRIPT_STYLE = re.compile(r"<(script|style)\b.*?</\1>", re.S | re.I)
_RE_TAG = re.compile(r"<[^>]+>")
_RE_WS = re.compile(r"\s+")


def extract_text(html: str) -> str:
    """Deterministic text extraction — the locked per-url golden.

    Drop script/style blocks, strip tags, collapse whitespace. Byte-stable:
    pure function of the html string.
    """
    no_scripts = _RE_SCRIPT_STYLE.sub(" ", html)
    no_tags = _RE_TAG.sub(" ", no_scripts)
    return _RE_WS.sub(" ", no_tags).strip()


def extract_geometries(html: str) -> list[dict]:
    """All geo payloads of one page, in document order of kind.

    Returns dicts: {kind, geometry (GeoJSON dict), properties (dict)}.
    Malformed payloads are skipped, never raised.
    """
    out: list[dict] = []
    for m in _RE_META_GEO.finditer(html):
        lat, lon = _latlon(m.group(1), m.group(2))
        if lat is not None:
            out.append(
                {
                    "kind": "meta.geo.position",
                    "geometry": {"type": "Point", "coordinates": [lon, lat]},
                    "properties": {},
                }
            )
    for m in _RE_META_ICBM.finditer(html):
        lat, lon = _latlon(m.group(1), m.group(2))
        if lat is not None:
            out.append(
                {
                    "kind": "meta.icbm",
                    "geometry": {"type": "Point", "coordinates": [lon, lat]},
                    "properties": {},
                }
            )
    for m in _RE_GEOJSON.finditer(html):
        try:
            rows = list(_flatten_geojson(json.loads(m.group(1))))
        except (ValueError, RecursionError):  # bad JSON, or nested too deep
            continue
        for geom, props in rows:
            out.append({"kind": "geojson", "geometry": geom, "properties": props})
    for m in _RE_JSONLD.finditer(html):
        try:
            doc = json.loads(m.group(1))
        except (ValueError, RecursionError):
            continue
        geo = doc.get("geo") if isinstance(doc, dict) else None
        if isinstance(geo, dict) and geo.get("@type") == "GeoCoordinates":
            lat, lon = _latlon(geo.get("latitude"), geo.get("longitude"))
            if lat is None:
                continue
            props = {"name": doc["name"]} if isinstance(doc.get("name"), str) else {}
            out.append(
                {
                    "kind": "jsonld",
                    "geometry": {"type": "Point", "coordinates": [lon, lat]},
                    "properties": props,
                }
            )
    return out


# nesting depth of a GeoJSON geometry's coordinates around its positions
_COORD_DEPTH = {
    "Point": 0,
    "MultiPoint": 1,
    "LineString": 1,
    "MultiLineString": 2,
    "Polygon": 2,
    "MultiPolygon": 3,
}
# largest accepted GeoJSON coordinate magnitude: quantized at a precision of
# up to 10**9, a coordinate and the delta between two stay inside the int64
# the geobuf codec packs
_MAX_ABS_COORD = 1e9


def _valid_coords(coords, depth: int) -> bool:
    """``depth`` levels of non-empty lists around positions of two or more
    finite numbers within ``_MAX_ABS_COORD`` (malformed payloads skip)."""
    if type(coords) is not list or not coords:
        return False
    if depth:
        for sub in coords:
            if not _valid_coords(sub, depth - 1):
                return False
        return True
    if len(coords) < 2:
        return False
    for c in coords:
        # JSON numbers are exactly int or float (not bool); NaN fails the range
        if type(c) not in (int, float) or not -_MAX_ABS_COORD <= c <= _MAX_ABS_COORD:
            return False
    return True


def _latlon(lat, lon):
    """(lat, lon) as floats inside the WGS84 range, else (None, None)."""
    try:
        lat, lon = float(lat), float(lon)
    except (TypeError, ValueError, OverflowError):
        return None, None
    if not (-90.0 <= lat <= 90.0 and -180.0 <= lon <= 180.0):
        return None, None
    return lat, lon


def _flatten_geojson(doc):
    """GeoJSON document -> [(geometry, properties)] rows.

    A Feature whose ``properties`` is neither an object nor null is
    skipped, and so is every geometry ``_geometries`` does not yield.
    """
    if not isinstance(doc, dict):
        return
    t = doc.get("type")
    if t == "FeatureCollection":
        for f in _members(doc, "features"):
            yield from _flatten_geojson(f)
    elif t == "Feature":
        props = doc.get("properties")
        if props is None:
            props = {}
        if isinstance(props, dict):
            for geom in _geometries(doc.get("geometry")):
                yield geom, props
    else:
        for geom in _geometries(doc):
            yield geom, {}


def _geometries(geom):
    """The well-formed simple geometries of a GeoJSON geometry.

    GeometryCollections explode to their member geometries (the wire
    geometry struct is flat; collections are rows, not objects — SURVEY
    §1.4 Spark mapping). A simple geometry needs a known type and
    coordinates ``_valid_coords`` accepts for it.
    """
    if not isinstance(geom, dict):
        return
    t = geom.get("type")
    if t == "GeometryCollection":
        for sub in _members(geom, "geometries"):
            yield from _geometries(sub)
    elif isinstance(t, str) and t in _COORD_DEPTH:
        if _valid_coords(geom.get("coordinates"), _COORD_DEPTH[t]):
            yield geom


def _members(doc: dict, key: str) -> list:
    """``doc[key]`` when it is a list, else no members."""
    members = doc.get(key)
    return members if isinstance(members, list) else []
