"""Single-core driver throughput of the layers under the pipeline's Python
stages and the codec: ``extract.html``, ``codec.geobuf`` on small features,
``functions.geometry.pip_mask`` and the ``codec.pbf`` kernels.

Traced runs call ``driver_probes``; each probe repeats its work
``REPS`` times and reports the median rate.
"""

from __future__ import annotations

import numpy as np

import harness as H

REPS = 3
N_PAGES = 3_000


def _median_rate(fn, work: float) -> float:
    times = []
    for _ in range(REPS):
        t0 = H.now()
        fn()
        times.append(H.now() - t0)
    return work / H.median(times)


def sample_pages(seed: int, n: int):
    """The first ``n`` of the pages the ``pipeline`` workload runs on."""
    from geobuf_cpp_spark.sources.pages import generate_pages_batch

    from wl_pipeline import page_range

    start, _ = page_range(seed)
    return generate_pages_batch(np.arange(start, start + n, dtype=np.int64))


def pipeline_layers(seed: int) -> dict:
    """extract, small-feature encode and PIP mask rates on pipeline pages."""
    from geobuf_cpp_spark.codec import geobuf as gb
    from geobuf_cpp_spark.extract.html import extract_geometries
    from geobuf_cpp_spark.functions.geometry import geojson_to_wire, wire_rings, pip_mask
    from geobuf_cpp_spark.sources.pages import generate_admin_polygons

    texts = [bytes(h).decode("utf-8") for h in sample_pages(seed, N_PAGES)["html"]]
    feats = [f for t in texts for f in extract_geometries(t)]
    docs = [{"type": "Feature", "geometry": f["geometry"], "properties": f["properties"]}
            for f in feats]
    enc = gb.Encoder(max_precision=10**7)  # the pipeline UDF's encoder
    wires = [geojson_to_wire(f["geometry"])[3] for f in feats]
    px = np.array([w[0] for w in wires])
    py = np.array([w[1] for w in wires])
    admin = generate_admin_polygons()
    rings = [wire_rings(g["type"], g["dim"], g["lengths"], g["coords"]) for g in admin["geom"]]

    def extract():
        for t in texts:
            extract_geometries(t)

    def encode():
        for d in docs:
            enc.encode(d)

    def mask():
        for r in rings:
            pip_mask(px, py, r)

    return {
        "extract.pages_per_s": _median_rate(extract, len(texts)),
        "codec.encode_small_feat_per_s": _median_rate(encode, len(docs)),
        "geometry.pip_mask_points_per_s": _median_rate(mask, len(px)),
    }


def pbf_layers(seed: int) -> dict:
    """pbf kernels on the delta arrays of the codec workload's large
    geometries: vectorized pack and unpack, and the scalar varint."""
    from geobuf_cpp_spark.codec import pbf

    from wl_codec import LARGE, make_documents

    deltas = []
    for d, (_, _, dim, _, digits) in zip(make_documents(seed), LARGE):
        geom = d["doc"]["features"][0]["geometry"]
        flat = np.asarray(_flatten(geom["coordinates"]), dtype=np.float64)
        q = np.round(flat.reshape(-1, dim) * 10.0**digits).astype(np.int64)
        deltas.append(np.diff(q, axis=0, prepend=0).ravel())
    packed = [pbf.pack_sint64_array(a) for a in deltas]
    n_vals = sum(a.size for a in deltas)
    scalars = [int(v) for v in pbf.zigzag_encode(deltas[0])[:20_000]]

    def pack():
        for a in deltas:
            pbf.pack_sint64_array(a)

    def unpack():
        for b in packed:
            pbf.unpack_sint64_array(b)

    def scalar():
        for v in scalars:
            pbf.varint(v)

    return {
        "pbf.pack_sint64_Mvals_per_s": _median_rate(pack, n_vals) / 1e6,
        "pbf.unpack_sint64_Mvals_per_s": _median_rate(unpack, n_vals) / 1e6,
        "pbf.varint_per_s": _median_rate(scalar, len(scalars)),
    }


def _flatten(coords) -> list:
    if coords and isinstance(coords[0], (int, float)):
        return list(coords)
    out = []
    for c in coords:
        out.extend(_flatten(c))
    return out


def driver_probes(seed: int) -> dict:
    return {**pipeline_layers(seed), **pbf_layers(seed)}
