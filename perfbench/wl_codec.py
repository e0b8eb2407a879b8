"""``codec_roundtrip``: Geobuf encode and decode in the driver, no Spark.

Inputs come from the seed in two shapes that take different codec paths:

- large geometries (vectorized ``codec.pbf`` path, arrays over 16 values):
  a 2D and a 3D LineString, a Polygon with two holes and a three-part
  MultiPolygon, 10^3 to 10^4 vertices each, at precision 6, 7 or 8;
- many Points with repeated property keys (scalar path).

The shapes and sizes are the same for every seed; the seed moves only the
coordinates and property values, so runs with different seeds do the same
amount of work. Coordinates lie on the document's decimal grid, which makes
every document lossless.

One operation encodes one document and decodes the bytes, cycling through
the documents until ``--seconds`` have passed. Each encode must reproduce
the reference bytes and each decode the reference document, or the
operation counts as failed.
"""

from __future__ import annotations

import gc

import numpy as np

import harness as H

# (name, geometry type, dims, ring sizes, precision digits)
LARGE = (
    ("line2d", "LineString", 2, (10_000,), 6),
    ("line3d", "LineString", 3, (5_000,), 7),
    ("polygon_holes", "Polygon", 2, (4_000, 1_000, 1_000), 8),
    ("multipolygon", "MultiPolygon", 2, (2_000, 500, 2_000, 500, 2_000, 500), 6),
)
N_POINTS = 2_000
POINT_KINDS = ("cafe", "museum", "station", "park", "hotel")
SETUP_REPS = 3


def _grid(values: np.ndarray, digits: int) -> list:
    """Snap to the decimal grid the way the decoder rebuilds coordinates
    (integer / 10**digits), so decode(encode(doc)) reproduces every float."""
    return (np.round(values * 10**digits).astype(np.int64) / 10**digits).tolist()


def _walk(rng, n: int, dim: int, digits: int) -> list:
    start = np.array([rng.uniform(-170, 170), rng.uniform(-80, 80), 10.0][:dim])
    steps = rng.normal(0.0, 10.0 ** (2 - digits) * 5, size=(n, dim))
    return _grid(start + np.cumsum(steps, axis=0), digits)


def _ring(rng, n: int, cx: float, cy: float, radius: float, digits: int) -> list:
    ang = np.sort(rng.uniform(0, 2 * np.pi, size=n - 1))
    r = radius * (1 + rng.uniform(-0.05, 0.05, size=n - 1))
    pts = _grid(np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)]), digits)
    return pts + [pts[0]]


def _polygon(rng, sizes, cx, cy, digits) -> list:
    shell = _ring(rng, sizes[0], cx, cy, 1.0, digits)
    holes = [_ring(rng, n, cx + (0.4 if k % 2 else -0.4), cy, 0.2, digits)
             for k, n in enumerate(sizes[1:])]
    return [shell] + holes


def _feature(geom: dict, props: dict) -> dict:
    return {"type": "Feature", "geometry": geom, "properties": props}


def make_documents(seed: int) -> list[dict]:
    """The seeded documents: ``name``, ``doc``, ``precision``, ``coords``,
    ``features`` and ``large``."""
    rng = np.random.default_rng(seed)
    docs = []
    for name, gtype, dim, sizes, digits in LARGE:
        cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
        if gtype == "LineString":
            coords = _walk(rng, sizes[0], dim, digits)
        elif gtype == "Polygon":
            coords = _polygon(rng, sizes, cx, cy, digits)
        else:
            coords = [_polygon(rng, sizes[i:i + 2], cx + 3 * i, cy, digits)
                      for i in range(0, len(sizes), 2)]
        fc = {"type": "FeatureCollection",
              "features": [_feature({"type": gtype, "coordinates": coords},
                                    {"name": name, "seed": seed})]}
        docs.append({"name": name, "doc": fc, "precision": digits,
                     "coords": sum(sizes) * dim, "features": 1, "large": True})
    lon = _grid(rng.uniform(-180, 180, N_POINTS), 6)
    lat = _grid(rng.uniform(-85, 85, N_POINTS), 6)
    kinds = rng.integers(0, len(POINT_KINDS), N_POINTS).tolist()
    ranks = rng.integers(0, 1000, N_POINTS).tolist()
    points = [
        _feature({"type": "Point", "coordinates": [lon[i], lat[i]]},
                 {"name": f"poi-{i}", "kind": POINT_KINDS[kinds[i]],
                  "rank": ranks[i], "open": bool(ranks[i] % 2)})
        for i in range(N_POINTS)
    ]
    docs.append({"name": "points", "doc": {"type": "FeatureCollection", "features": points},
                 "precision": 6, "coords": 2 * N_POINTS, "features": N_POINTS,
                 "large": False})
    return docs


def check_codec(docs: list[dict], gb) -> list[str]:
    """Round-trip properties of the seeded documents and the fixture corpus:
    ``encode(decode(b)) == b`` for all, normalized equality for lossless
    inputs. Returns the names that failed."""
    from tests.fixtures_corpus import LOSSLESS, LOSSY

    failed = []
    for d in docs:
        blob = gb.encode(d["doc"], max_precision=10 ** d["precision"])
        back = gb.decode(blob)
        if (gb.encode(back, max_precision=10 ** d["precision"]) != blob
                or gb.normalize_json(back) != gb.normalize_json(d["doc"])):
            failed.append(d["name"])
    for name, doc in {**LOSSLESS, **LOSSY}.items():
        blob = gb.encode(doc, max_precision=10**8)
        back = gb.decode(blob)
        if gb.encode(back, max_precision=10**8) != blob:
            failed.append(f"fixture:{name}")
        elif name in LOSSLESS and gb.normalize_json(back) != gb.normalize_json(doc):
            failed.append(f"fixture:{name}")
    return failed


def run(args, work: str, host: dict) -> dict:
    from geobuf_cpp_spark.codec import geobuf as gb

    setups, generate = [], []
    for _ in range(SETUP_REPS):
        t0 = H.now()
        docs = make_documents(args.seed)
        generate.append(H.now() - t0)
        refs = []
        for d in docs:  # warm-up round trip, kept as the reference
            blob = gb.encode(d["doc"], max_precision=10 ** d["precision"])
            refs.append((blob, gb.decode(blob)))
        setups.append(H.now() - t0)
    setup_s = H.median(setups)
    # keep the benchmark's own documents out of the cyclic collector, so
    # timed calls pay for collecting only what they allocate
    gc.collect()
    gc.freeze()

    ops = []
    t_end = H.now() + args.seconds
    i = 0
    while H.now() < t_end or i < 2 * len(docs):
        d, (ref_blob, ref_doc) = docs[i % len(docs)], refs[i % len(docs)]
        t0 = H.now()
        blob = gb.encode(d["doc"], max_precision=10 ** d["precision"])
        t1 = H.now()
        back = gb.decode(blob)
        t2 = H.now()
        ops.append({"op": d["name"], "encode_s": t1 - t0, "decode_s": t2 - t1,
                    "ok": blob == ref_blob and back == ref_doc})
        i += 1

    check_failures = check_codec(docs, gb)
    by_name = {d["name"]: d for d in docs}

    def rates(large: bool, key: str, unit: float) -> float:
        return H.median([
            (by_name[o["op"]]["coords"] if large else by_name[o["op"]]["features"])
            / o[key] / unit
            for o in ops if by_name[o["op"]]["large"] == large
        ])

    large_docs = [(d, r) for d, r in zip(docs, refs) if d["large"]]
    roundtrip_s = [o["encode_s"] + o["decode_s"] for o in ops]
    detail = {
        "encode_large_Mcoord_per_s": rates(True, "encode_s", 1e6),
        "decode_large_Mcoord_per_s": rates(True, "decode_s", 1e6),
        "encode_small_kfeat_per_s": rates(False, "encode_s", 1e3),
        "decode_small_kfeat_per_s": rates(False, "decode_s", 1e3),
        "geobuf_bytes_per_coord": sum(len(r[0]) for _, r in large_docs)
        / sum(d["coords"] for d, _ in large_docs),
    }
    return {
        "attempted": len(ops) + 1,
        "failed": sum(not o["ok"] for o in ops) + (1 if check_failures else 0),
        "checks": {"roundtrip_failures": check_failures},
        "setup": {"setup_s": setup_s, "setup_runs_s": setups,
                  "sources.input_s": H.median(generate)},
        "op_seconds": roundtrip_s,
        "work_units": sum(by_name[o["op"]]["coords"] for o in ops),
        "work_unit": "coordinates round-tripped",
        "detail": detail,
        "rows": ops,
        "spark_rows": [],
    }
