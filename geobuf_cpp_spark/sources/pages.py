"""Deterministic synthetic Common-Crawl-style corpus (pages + admin polygons).

Input contract from BASELINE.json input_hint: Iceberg/parquet table
``pages(url string, warc_ts timestamp, html binary, text string,
lang string)``. No external data — every byte is a pure function of
(page id, seed), generated distributed via ``spark.range(n).mapInPandas``
so the content is independent of partitioning (resumable, scale-free).

Coordinates are skewed around 20 synthetic city centers with a cubic
popularity law, so hot-cell salting and AQE skew handling are actually
exercised (FIXTURES.md §1.1). ~30% of pages carry 1..3 geo payloads in the
three kinds the extractor understands (meta geotags, embedded GeoJSON,
JSON-LD GeoCoordinates). The stored ``text`` column is byte-identical to
``extract.html.extract_text(html)`` by construction, and tests re-verify.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from ..extract.html import extract_text
from ..functions.geometry import GEOM_STRUCT, geojson_to_wire

SEED = 42

# 20 synthetic "city" centers (lat, lon) — fixed, plausible world spread
CITY_CENTERS = np.array(
    [
        [40.71, -74.00], [51.50, -0.12], [35.68, 139.69], [48.85, 2.35],
        [55.75, 37.61], [39.90, 116.40], [19.43, -99.13], [-23.55, -46.63],
        [28.61, 77.20], [31.23, 121.47], [37.77, -122.41], [41.89, 12.49],
        [52.52, 13.40], [-33.86, 151.20], [1.35, 103.81], [25.20, 55.27],
        [-1.29, 36.82], [59.33, 18.06], [43.65, -79.38], [34.05, -118.24],
    ],
    dtype=np.float64,
)

LANGS = np.array(["en", "zh", "es", "de", "fr", "ja", "ru", "pt"])
LANG_CDF = np.array([0.60, 0.75, 0.82, 0.87, 0.91, 0.95, 0.98, 1.00])

_WORDS = (
    "travel city guide map local history food market street museum river "
    "park station hotel coffee walk tour harbor festival music night"
).split()


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — counter-based, partition-independent RNG."""
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def uniform01(ids: np.ndarray, stream: int) -> np.ndarray:
    """Deterministic U[0,1) per (id, stream)."""
    h = mix64(ids.astype(np.uint64) * np.uint64(1315423911) + np.uint64(SEED + stream * 7919))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def page_coords(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lat, lon, city) for geo-bearing pages — skewed city popularity."""
    u_city = uniform01(ids, 1)
    city = np.minimum((u_city**3 * len(CITY_CENTERS)).astype(np.int64), len(CITY_CENTERS) - 1)
    dlat = (uniform01(ids, 2) - 0.5) * 1.0
    dlon = (uniform01(ids, 3) - 0.5) * 1.0
    lat = np.round(CITY_CENTERS[city, 0] + dlat, 6)
    lon = np.round(CITY_CENTERS[city, 1] + dlon, 6)
    return lat, lon, city


def generate_pages_batch(ids: np.ndarray) -> pd.DataFrame:
    """Pure function (ids, SEED) -> pages rows."""
    n = ids.shape[0]
    u_lang = uniform01(ids, 0)
    lang = LANGS[np.searchsorted(LANG_CDF, u_lang, side="right").clip(0, len(LANGS) - 1)]
    has_geo = uniform01(ids, 4) < 0.30
    n_payload = 1 + (uniform01(ids, 5) * 3).astype(np.int64)  # 1..3
    kind_u = uniform01(ids, 6)
    lat, lon, city = page_coords(ids)
    ts = pd.to_datetime(1704067200 + (ids * 37) % 31536000, unit="s")

    urls = [f"https://site-{int(i) % 1000}.example.org/page/{int(i)}" for i in ids]
    htmls: list[bytes] = []
    texts: list[str] = []
    for j in range(n):
        i = int(ids[j])
        words = " ".join(_WORDS[(i + k) % len(_WORDS)] for k in range(12 + i % 9))
        parts = [
            "<html><head>",
            f"<title>Page {i} — {_WORDS[i % len(_WORDS)]}</title>",
        ]
        if has_geo[j]:
            la, lo = float(lat[j]), float(lon[j])
            kinds = []
            k0 = int(kind_u[j] * 3)
            for p in range(int(n_payload[j])):
                kinds.append((k0 + p) % 3)
            for p, kind in enumerate(kinds):
                # nudge extra payloads so one page yields distinct features
                pla = round(la + p * 0.001, 6)
                plo = round(lo + p * 0.001, 6)
                if kind == 0:
                    parts.append(f'<meta name="geo.position" content="{pla};{plo}">')
                    parts.append(f'<meta name="ICBM" content="{pla}, {plo}">')
                elif kind == 1:
                    # rotate Point / LineString / Polygon payloads so the
                    # pipeline exercises every codec geometry path
                    shape = i % 3
                    if shape == 0:
                        geom = {"type": "Point", "coordinates": [plo, pla]}
                    elif shape == 1:
                        geom = {
                            "type": "LineString",
                            "coordinates": [
                                [plo, pla],
                                [round(plo + 0.002, 6), round(pla + 0.001, 6)],
                                [round(plo + 0.004, 6), round(pla - 0.001, 6)],
                            ],
                        }
                    else:
                        geom = {
                            "type": "Polygon",
                            "coordinates": [[
                                [plo, pla],
                                [round(plo + 0.003, 6), pla],
                                [round(plo + 0.003, 6), round(pla + 0.002, 6)],
                                [plo, pla],
                            ]],
                        }
                    feature = {
                        "type": "Feature",
                        "geometry": geom,
                        "properties": {"page": i, "p": p},
                    }
                    parts.append(
                        '<script type="application/geo+json">'
                        + json.dumps(feature, separators=(",", ":"))
                        + "</script>"
                    )
                else:
                    ld = {
                        "@context": "https://schema.org",
                        "@type": "Place",
                        "name": f"place-{i}-{p}",
                        "geo": {
                            "@type": "GeoCoordinates",
                            "latitude": pla,
                            "longitude": plo,
                        },
                    }
                    parts.append(
                        '<script type="application/ld+json">'
                        + json.dumps(ld, separators=(",", ":"))
                        + "</script>"
                    )
        parts.append(f"</head><body><h1>{_WORDS[(i * 7) % len(_WORDS)]}</h1>")
        parts.append(f"<p>{words}</p>")
        parts.append(f"<p>lang={lang[j]} ts={int(ts[j].timestamp())}</p>")
        parts.append("</body></html>")
        html = "".join(parts)
        htmls.append(html.encode("utf-8"))
        texts.append(extract_text(html))

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": ts,
            "html": htmls,
            "text": texts,
            "lang": lang,
        }
    )


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_dataframe(spark, n_pages: int, partitions: int | None = None):
    """Distributed deterministic pages table."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            yield generate_pages_batch(pdf["id"].to_numpy())

    return spark.range(0, n_pages, numPartitions=parts).mapInPandas(gen, PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# admin polygons (PIP right side) — FIXTURES.md §1.2
# ---------------------------------------------------------------------------

ADMIN_SCHEMA = f"admin_id long, name string, level tinyint, geom {GEOM_STRUCT}"


def _regular_ring(lat_c: float, lon_c: float, radius_deg: float, n_vertices: int,
                  phase: float = 0.0) -> list[list[float]]:
    ang = 2.0 * np.pi * (np.arange(n_vertices) / n_vertices) + phase
    xs = np.round(lon_c + radius_deg * np.cos(ang), 6)
    ys = np.round(lat_c + radius_deg * 0.7 * np.sin(ang), 6)
    ring = [[float(x), float(y)] for x, y in zip(xs, ys)]
    ring.append(ring[0])
    return ring


def generate_admin_polygons() -> pd.DataFrame:
    """Deterministic admin polygons around the city centers.

    Per city: level-0 octagon (radius 1.2°), level-1 hexagon (0.45°),
    level-2 square (0.18°). City 0's level-0 polygon has a hole; city 1's
    level-0 is a 2-part MultiPolygon — exercising the codec lengths layouts
    (reference geobuf.cpp:489-528) inside the join path.
    """
    rows = []
    admin_id = 0
    for c, (lat_c, lon_c) in enumerate(CITY_CENTERS):
        specs = [
            (0, 1.2, 8), (1, 0.45, 6), (2, 0.18, 4),
        ][: 3]
        for level, radius, nv in specs:
            if level == 0 and c == 0:
                geom = {
                    "type": "Polygon",
                    "coordinates": [
                        _regular_ring(lat_c, lon_c, radius, nv),
                        _regular_ring(lat_c, lon_c, 0.08, 4, phase=0.3),
                    ],
                }
            elif level == 0 and c == 1:
                geom = {
                    "type": "MultiPolygon",
                    "coordinates": [
                        [_regular_ring(lat_c, lon_c - 0.4, radius * 0.6, nv)],
                        [_regular_ring(lat_c, lon_c + 0.7, radius * 0.4, nv)],
                    ],
                }
            else:
                geom = {"type": "Polygon",
                        "coordinates": [_regular_ring(lat_c, lon_c, radius, nv)]}
            t, dim, lengths, coords = geojson_to_wire(geom)
            rows.append(
                {
                    "admin_id": admin_id,
                    "name": f"admin-{c}-{level}",
                    "level": level,
                    "geom": {"type": t, "dim": dim, "lengths": lengths, "coords": coords},
                }
            )
            admin_id += 1
    return pd.DataFrame(rows)

