"""Codec unit tests — methodology of the reference suite:
round-trip fixpoint (tests/test_geobuf.py:360-364), normalized-JSON md5
(geobuf-roundtrip-test.py:55-63,165-172), encode determinism across input
forms (tests/test_geobuf.py:352-391), wire-layout specifics
(geobuf.cpp:232-239, 492-519), rounding ties (tests/test_geobuf.cpp:61-83).
"""

import hashlib
import json
from pathlib import Path

import numpy as np
import pytest

from geobuf_cpp_spark.codec import geobuf as gb
from geobuf_cpp_spark.codec.pbf import (
    PbfReader,
    decode_varints,
    encode_varints,
    pack_sint64_array,
    unpack_sint64_array,
    varint,
    zigzag_decode,
    zigzag_encode,
)

from .fixtures_corpus import ALL, LOSSLESS, LOSSY, PRECISION


def md5_normalized(obj) -> str:
    return hashlib.md5(gb.normalize_json(obj).encode()).hexdigest()


# ---------------------------------------------------------------------------
# low-level kernels
# ---------------------------------------------------------------------------


def test_zigzag_roundtrip():
    vals = np.array(
        [0, -1, 1, -2, 2, 2**62, -(2**62), np.iinfo(np.int64).max, np.iinfo(np.int64).min],
        dtype=np.int64,
    )
    zz = zigzag_encode(vals)
    assert zz[0] == 0 and zz[1] == 1 and zz[2] == 2 and zz[3] == 3 and zz[4] == 4
    assert np.array_equal(zigzag_decode(zz), vals)


def test_varint_vectorized_matches_scalar():
    rng = np.random.default_rng(42)
    vals = rng.integers(0, 2**63, size=1000, dtype=np.uint64)
    vals[:10] = [0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**63 - 1, 300]
    expect = b"".join(varint(int(v)) for v in vals)
    assert encode_varints(vals) == expect
    assert np.array_equal(decode_varints(expect), vals)


def test_packed_sint64_roundtrip():
    rng = np.random.default_rng(7)
    vals = rng.integers(-(2**40), 2**40, size=5000, dtype=np.int64)
    assert np.array_equal(unpack_sint64_array(pack_sint64_array(vals)), vals)


def test_round_half_away_from_zero():
    # C++ std::round semantics (geobuf.cpp:479), not banker's rounding
    assert gb.round_half_away(0.5, 1) == 1
    assert gb.round_half_away(-0.5, 1) == -1
    assert gb.round_half_away(2.5, 1) == 3
    assert gb.round_half_away(-2.5, 1) == -3
    assert gb.round_half_away(1.4999999, 1) == 1


def test_tie_rounding_case():
    # tests/test_geobuf.cpp:61-83 documents this value as a js/cxx divergence.
    # In IEEE double, 119.88281249999999 * 1e6 == 119882812.49999998...,
    # so std::round (half-away-from-zero) yields ...812; the kernel computes
    # exactly what std::round(lon*e) computes on this platform.
    assert gb.round_half_away(119.88281249999999, 1e6) == 119882812
    # a true representable tie must round away from zero
    assert gb.round_half_away(119882812.5, 1.0) == 119882813
    assert gb.round_half_away(-119882812.5, 1.0) == -119882813


def test_encoder_rounding_matches_reference_kernel():
    # the encoder inlines round_half_away in its scalar path and uses the
    # numpy twin _quantize on long lines; both must round as the reference
    ties = [0.5, -0.5, 2.5, -2.5, 1.4999999, 119882812.5, -119882812.5]
    want = [float(gb.round_half_away(c, 1.0)) for c in ties]
    for c, w in zip(ties, want):
        point = gb.decode(gb.encode({"type": "Point", "coordinates": [c, -c]},
                                    max_precision=1))
        assert point["coordinates"] == [w, -w]
    for n in (2, 40):  # the scalar loop, then the numpy kernel
        line = [[c, c] for c in ties] * n
        back = gb.decode(gb.encode({"type": "LineString", "coordinates": line},
                                   max_precision=1))["coordinates"]
        assert back == [[w, w] for w in want] * n


# ---------------------------------------------------------------------------
# fixture corpus round-trips
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("name", sorted(LOSSLESS))
def test_lossless_roundtrip_md5(name):
    doc = LOSSLESS[name]
    encoded = gb.encode(doc, max_precision=10**8)
    decoded = gb.decode(encoded)
    assert md5_normalized(decoded) == md5_normalized(doc), gb.normalize_json(decoded)


@pytest.mark.parametrize("name", sorted(ALL))
def test_decode_encode_fixpoint(name):
    doc = ALL[name]
    encoded = gb.encode(doc, max_precision=10**8)
    decoded = gb.decode(encoded)
    encoded2 = gb.encode(decoded, max_precision=10**8)
    assert gb.decode(encoded2) == decoded  # fixpoint (test_geobuf.py:360-364)
    assert encoded2 == gb.encode(gb.decode(encoded2), max_precision=10**8)  # byte fixpoint


@pytest.mark.parametrize("name", sorted(ALL))
def test_encode_deterministic_across_forms(name):
    doc = ALL[name]
    as_dict = gb.encode(doc)
    as_str = gb.encode(json.dumps(doc))
    assert as_dict == as_str  # tests/test_geobuf.py:355-357


# ---------------------------------------------------------------------------
# wire-layout specifics
# ---------------------------------------------------------------------------


def _top_level_tags(data: bytes) -> dict:
    tags = {}
    pbf = PbfReader(data)
    while pbf.next():
        tags.setdefault(pbf.tag, []).append(
            bytes(pbf.get_bytes()) if pbf.wire == 2 else pbf.get_uint64()
        )
    return tags


def _geometry_tags(doc) -> dict:
    data = gb.encode(doc)
    top = _top_level_tags(data)
    # Feature under 5 -> geometry under 1; bare geometry under 6
    if 5 in top:
        f = _top_level_tags(top[5][0])
        return _top_level_tags(f[1][0])
    return _top_level_tags(top[6][0])


def test_header_omissions():
    # dim=2, precision=6 -> headers omitted (geobuf.cpp:232-239)
    doc = {"type": "Point", "coordinates": [1.123456, 2.0]}
    tags = _top_level_tags(gb.encode(doc, max_precision=10**6))
    assert 2 not in tags and 3 not in tags
    # dim=3 -> tag 2 present
    doc3 = {"type": "Point", "coordinates": [1.0, 2.0, 3.0]}
    tags3 = _top_level_tags(gb.encode(doc3))
    assert tags3[2] == [3]
    # precision != 6 -> tag 3 present (integers -> e=1 -> precision 0)
    doci = {"type": "Point", "coordinates": [1.0, 2.0]}
    tagsi = _top_level_tags(gb.encode(doci))
    assert tagsi[3] == [0]


def test_lengths_omission_single_parts():
    # 1-part MultiLineString / 1-ring Polygon omit tag 2 (geobuf.cpp:492-500)
    one_line = {"type": "MultiLineString", "coordinates": [[[0.0, 0.0], [1.0, 1.0]]]}
    assert 2 not in _geometry_tags(one_line)
    two_lines = {
        "type": "MultiLineString",
        "coordinates": [[[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [3.0, 3.0]]],
    }
    assert 2 in _geometry_tags(two_lines)
    one_ring = {
        "type": "Polygon",
        "coordinates": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]],
    }
    assert 2 not in _geometry_tags(one_ring)
    # 1 poly x 1 ring MultiPolygon omits lengths (geobuf.cpp:509-519)
    from .fixtures_corpus import MULTI_MULTIPOLY, SINGLE_MULTIPOLY

    assert 2 not in _geometry_tags(SINGLE_MULTIPOLY["geometry"])
    mp_tags = _geometry_tags(MULTI_MULTIPOLY["geometry"])
    lengths = decode_varints(mp_tags[2][0]).tolist()
    # [n_polys, n_rings, ring sizes (closing point dropped) ...]
    assert lengths == [2, 2, 4, 3, 1, 3]


def test_ring_closing_dropped_and_restored():
    ring = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 0.0]]
    doc = {"type": "Polygon", "coordinates": [ring]}
    gtags = _geometry_tags(doc)
    coords = unpack_sint64_array(gtags[3][0])
    assert coords.size == 3 * 2  # last point dropped on encode
    decoded = gb.decode(gb.encode(doc))
    assert decoded["coordinates"][0][0] == decoded["coordinates"][0][-1]
    assert decoded["coordinates"][0] == ring


def test_delta_resets_per_ring():
    # delta running sum is per ring (populateLine local sum, geobuf.cpp:537-552)
    doc = {
        "type": "MultiLineString",
        "coordinates": [[[10.0, 10.0], [11.0, 11.0]], [[10.0, 10.0], [12.0, 12.0]]],
    }
    gtags = _geometry_tags(doc)
    deltas = unpack_sint64_array(gtags[3][0]).tolist()
    e = 1  # integer coords -> precision 0
    assert deltas == [10, 10, 1, 1, 10, 10, 2, 2]


def test_value_wire_kinds():
    doc = {
        "type": "Feature",
        "properties": {"i_neg": -5, "u_pos": 5, "b": True, "d": 1.5, "s": "x", "j": [1]},
        "geometry": {"type": "Point", "coordinates": [0.0, 0.0]},
    }
    data = gb.encode(doc)
    f = _top_level_tags(_top_level_tags(data)[5][0])
    kinds = []
    for vmsg in f[13]:
        sub = PbfReader(vmsg)
        sub.next()
        kinds.append(sub.tag)
        sub.skip()
    # properties order: i_neg(-5)->4, u_pos->3, bool->5, double->2, str->1, json->6
    assert kinds == [4, 3, 5, 2, 1, 6]
    # negative int64 encoded as uint64(-v) (geobuf.cpp:466)
    sub = PbfReader(f[13][0])
    sub.next()
    assert sub.get_uint64() == 5
    assert gb.decode(data)["properties"]["i_neg"] == -5


def test_bytes_value_base64():
    doc = {
        "type": "Feature",
        "properties": {"blob": b"\x00\x01\x02"},
        "geometry": {"type": "Point", "coordinates": [0.0, 0.0]},
    }
    decoded = gb.decode(gb.encode(doc))
    assert decoded["properties"]["blob"] == "AAEC"  # pybind11_helpers.hpp:68-75


def test_precision_cap():
    # e capped at max_precision (geobuf.cpp:349-357)
    enc = gb.Encoder(max_precision=10**8)
    enc.encode(PRECISION)
    assert enc.e == 10**8
    tags = _top_level_tags(gb.encode(PRECISION, max_precision=10**8))
    assert tags[3] == [8]


def test_custom_properties_roundtrip_lossless():
    # deviation #1: value index continues across props/custom groups,
    # so BOTH groups decode to their original values (the reference's
    # restart quirk loses this; see its tests/test_geobuf.py:385 TODO)
    doc = {
        "type": "Feature",
        "properties": {"a": 1, "b": 2},
        "geometry": {"type": "Point", "coordinates": [1.0, 1.0]},
        "c_custom": 9,
    }
    decoded = gb.decode(gb.encode(doc))
    assert decoded["properties"] == {"a": 1, "b": 2}
    assert decoded["c_custom"] == 9


def test_keys_table_first_seen_order():
    doc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "geometry": None, "properties": {"z_key": 1, "a_key": 2}},
            {"type": "Feature", "geometry": None, "properties": {"a_key": 3, "m_key": 4}},
        ],
    }
    tags = _top_level_tags(gb.encode(doc))
    keys = [b.decode() for b in tags[1]]
    assert keys == ["z_key", "a_key", "m_key"]  # first-seen, geobuf.cpp:359-372


def test_normalize_geobuf_idempotent():
    data = gb.encode(LOSSLESS["sample1"])
    once = gb.normalize_geobuf(data)
    assert gb.normalize_geobuf(once) == once


def test_geometry_level_custom_properties():
    # tag-15 on a bare geometry (geobuf.cpp:443-445)
    doc = {"type": "Point", "coordinates": [1.5, 2.5], "extra_key": "extra", "n": 7}
    decoded = gb.decode(gb.encode(doc))
    assert decoded["extra_key"] == "extra" and decoded["n"] == 7
    assert decoded["coordinates"] == [1.5, 2.5]


def test_point_feature_size_formula():
    """The SQL wire-size model (oracle of geobuf_size_stats) must predict
    the real encoder's byte count for every corpus point and for edge
    coordinates (zero, negative, varint-length boundaries, max precision).
    """
    import math

    import duckdb
    import pandas as pd

    from geobuf_cpp_spark.functions.sql_codec import sql_point_feature_size

    model = sql_point_feature_size("lon", "lat", 10**6)

    cases = [
        (0.0, 0.0),
        (-180.0, -85.0),
        (179.99, 84.99),
        (0.005, -0.005),      # rounding at the half
        (1.0, -1.0),          # precision 0
        (0.1, 0.2),           # float wobble -> escalates e
        (127.0, 128.0),       # varint length boundary at e=1
        (0.123456, -0.654321),  # needs the full 1e6
        (163.84, -163.84),    # zigzag boundary region at e=100
    ]
    # plus a slice of the real corpus lattice
    for k in range(1, 400, 7):
        lon = float((k * 7919) % 36000) / 100.0 - 180.0
        lat = float((k * 9973) % 17000) / 100.0 - 85.0
        cases.append((lon, lat))

    # one query over all cases: the model is a large expression, and
    # planning it once per case took most of this test's time
    con = duckdb.connect()
    con.register("cases", pd.DataFrame(
        [(i, lon, lat) for i, (lon, lat) in enumerate(cases)],
        columns=["i", "lon", "lat"]))
    predicted = con.execute(
        f"SELECT {model['precision']}, {model['nbytes']} FROM cases "
        "ORDER BY i").fetchall()
    assert len(predicted) == len(cases)
    for (lon, lat), (p, nb) in zip(cases, predicted):
        enc = gb.Encoder(max_precision=10**6)
        blob = enc.encode(
            {
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [lon, lat]},
                "properties": {"src": "orders"},
            }
        )
        assert nb == len(blob), (lon, lat, nb, len(blob))
        assert p == round(math.log10(enc.e)), (lon, lat, p, enc.e)


def test_relaxed_json_parse_roundtrip():
    """Reference parses with kParseCommentsFlag | kParseTrailingCommasFlag
    (rapidjson_helpers.hpp:16-19) — commented documents must round-trip."""
    from geobuf_cpp_spark.codec.jsonio import loads_relaxed

    relaxed = """
    {
      // a line comment with , and } inside
      "type": "Feature", /* block comment */
      "geometry": {
        "type": "Point",
        "coordinates": [1.5, 2.5,],   // trailing comma in array
      },
      "properties": {
        "url": "http://x//y", // the // inside the string survives
        "note": "a, b, ]",
        "n": 3,
      },
    }
    """
    doc = loads_relaxed(relaxed)
    assert doc["properties"]["url"] == "http://x//y"
    assert doc["properties"]["note"] == "a, b, ]"
    assert doc["geometry"]["coordinates"] == [1.5, 2.5]
    # the whole codec path accepts relaxed text
    blob = gb.encode(relaxed)
    back = gb.decode(blob)
    assert back["properties"]["n"] == 3
    # strict documents still parse byte-identically through the fast path
    assert loads_relaxed('{"a": [1, 2]}') == {"a": [1, 2]}


def test_uint64_scale_feature_id():
    """Ids outside int64 take the reference's generic branch: JSON-dumped
    tag-11 string (geobuf.cpp:392-397), stable under re-encode."""
    big = (1 << 63) + 12345
    f = {
        "type": "Feature",
        "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
        "properties": {},
        "id": big,
    }
    blob = gb.encode(f)
    back = gb.decode(blob)
    assert back["id"] == str(big)  # numeric string, like the reference
    # byte-stable under normalize (decode -> encode fixpoint)
    assert gb.normalize_geobuf(blob) == gb.normalize_geobuf(gb.normalize_geobuf(blob))
    # int64-range ids still take the tag-12 branch
    f["id"] = -5
    assert gb.decode(gb.encode(f))["id"] == -5


def test_str_convenience_roundtrips():
    """Reference parity T4: str2json2str / str2geojson2str (the string
    convenience wrappers the pybind11 module exports) round-trip a
    feature collection through the codec losslessly."""
    import json

    from geobuf_cpp_spark.codec.geobuf import str2geojson2str, str2json2str

    fc = {"type": "FeatureCollection", "features": [{
        "type": "Feature", "properties": {"k": 1},
        "geometry": {"type": "Point", "coordinates": [1.5, 2.5]}}]}
    s = json.dumps(fc)
    for fn in (str2json2str, str2geojson2str):
        out = json.loads(fn(s))
        assert out["features"][0]["geometry"]["coordinates"] == [1.5, 2.5]
        assert out["features"][0]["properties"] == {"k": 1}


def test_simplify_geojson_recursion_and_cli_flag(tmp_path):
    """simplify_geojson recurses FC/Feature/GeometryCollection, leaves
    points alone, keeps polygon rings valid; the CLI --simplify flag
    drives it before encode."""
    import json
    import subprocess
    import sys

    from geobuf_cpp_spark.operators.simplify import simplify_geojson

    doc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"k": 1},
             "geometry": {"type": "LineString",
                          "coordinates": [[0, 0], [2, 5], [5, 0.1],
                                          [7, -4], [10, 0]]}},
            {"type": "Feature", "properties": {},
             "geometry": {"type": "GeometryCollection", "geometries": [
                 {"type": "Point", "coordinates": [1, 2]},
                 {"type": "Polygon", "coordinates": [
                     [[0, 0], [10, 0.01], [20, 0], [20, 20], [0, 20],
                      [0, 0]]]},
             ]}},
        ],
    }
    out = simplify_geojson(doc, 1.0)
    line = out["features"][0]["geometry"]["coordinates"]
    assert line == [[0, 0], [2, 5], [7, -4], [10, 0]]
    gc = out["features"][1]["geometry"]["geometries"]
    assert gc[0] == {"type": "Point", "coordinates": [1, 2]}
    ring = gc[1]["coordinates"][0]
    assert ring[0] == ring[-1] and len(ring) >= 4
    assert [10, 0.01] not in ring          # sub-tolerance vertex dropped
    assert out["features"][0]["properties"] == {"k": 1}

    src = tmp_path / "in.json"
    src.write_text(json.dumps(doc))
    pbf = tmp_path / "out.pbf"
    subprocess.run(
        [sys.executable, "-m", "geobuf_cpp_spark", "json2geobuf",
         str(src), str(pbf), "--simplify", "1.0"],
        cwd=Path(__file__).resolve().parents[1], check=True, capture_output=True)
    from geobuf_cpp_spark.codec import geobuf as gb
    dec = gb.decode(pbf.read_bytes())
    assert len(dec["features"][0]["geometry"]["coordinates"]) == 4


def test_pbf_decode_printable_walks_real_geobuf():
    """The schema-less debug printer walks a real encoded document:
    keys land as quoted strings, nested messages recurse, varints print,
    and malformed input degrades loudly instead of raising."""
    from geobuf_cpp_spark.codec import geobuf as gb
    from geobuf_cpp_spark.codec.pbf_debug import to_printable

    doc = {
        "type": "Feature",
        "properties": {"name": "alpha", "rank": 7},
        "geometry": {"type": "Point", "coordinates": [1.5, 2.5]},
    }
    out = to_printable(gb.encode(doc))
    assert '"name"' in out and '"rank"' in out   # keys table strings
    assert "{" in out and "}" in out             # nested messages recurse
    assert '"alpha"' in out                      # string property value
    assert "3: 7" in out                         # pos-int property varint
    assert "0x" in out                           # unguessable bytes -> hex
    assert "<malformed>" not in out

    assert "<malformed>" in to_printable(b"\xff\xff\xff")
    assert to_printable(b"") == ""


def test_encoder_golden_bytes_on_generated_pages():
    """Byte pin of the encoder on the pipeline's feature mix (Points, short
    LineStrings and Polygons with int properties), independent of Spark."""
    from geobuf_cpp_spark.extract.html import extract_geometries
    from geobuf_cpp_spark.sources.pages import generate_pages_batch

    enc = gb.Encoder(max_precision=10**7)
    digest = hashlib.sha256()
    n = 0
    for html in generate_pages_batch(np.arange(0, 2000, dtype=np.int64))["html"]:
        for f in extract_geometries(bytes(html).decode("utf-8")):
            blob = enc.encode({"type": "Feature", "geometry": f["geometry"],
                               "properties": f["properties"]})
            digest.update(len(blob).to_bytes(4, "little") + blob)
            n += 1
    assert n == 1633
    assert digest.hexdigest() == (
        "a014727fd5b8f5759fd3ddcc945af29907e7a7664bb6cadb1753a234849d48bd"
    )
