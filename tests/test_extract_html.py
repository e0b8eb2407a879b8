"""Extractor contract, Spark-free: malformed payloads are skipped, never
raised, and every payload that is kept converts to the wire struct and
encodes."""

import pytest

from geobuf_cpp_spark.codec import geobuf as gb
from geobuf_cpp_spark.extract.html import extract_geometries
from geobuf_cpp_spark.functions.geometry import geojson_to_wire


def _geojson(doc: str) -> str:
    return f'<script type="application/geo+json">{doc}</script>'


def _jsonld(lat: str, lon: str) -> str:
    return ('<script type="application/ld+json">{"geo":{"@type":"GeoCoordinates",'
            f'"latitude":{lat},"longitude":{lon}}}}}</script>')


def _feature(geometry: str, properties: str = "{}") -> str:
    return _geojson(f'{{"type":"Feature","geometry":{geometry},"properties":{properties}}}')


MALFORMED = {
    "unknown_type": _feature('{"type":"Circle","coordinates":[1,2]}'),
    "no_coordinates": _feature('{"type":"Point"}'),
    "string_coordinates": _feature('{"type":"Point","coordinates":["1","2"]}'),
    "non_finite": _feature('{"type":"Point","coordinates":[1e999,2]}'),
    "list_properties": _feature('{"type":"Point","coordinates":[1,2]}', "[1]"),
    "nested_too_deep": _feature('{"type":"Point","coordinates":[[1,2]]}'),
    "one_number_position": _feature('{"type":"LineString","coordinates":[[1,2],[3]]}'),
    "beyond_int64_when_quantized": _feature('{"type":"Point","coordinates":[1e300,2]}'),
    "unhashable_type": _feature('{"type":["Point"],"coordinates":[1,2]}'),
    "features_not_a_list": _geojson('{"type":"FeatureCollection","features":5}'),
    "geometries_not_a_list": _feature('{"type":"GeometryCollection","geometries":5}'),
    "json_nested_past_recursion_limit": _geojson("[" * 100_000 + "]" * 100_000),
    "jsonld_nan": _jsonld('"nan"', "2"),
    "jsonld_non_finite": _jsonld("1e999", "2"),
    "jsonld_huge_int": _jsonld("1" + "0" * 400, "2"),
}


@pytest.mark.parametrize("name", sorted(MALFORMED))
def test_malformed_payload_is_skipped(name):
    valid = _feature('{"type":"Point","coordinates":[13.4,52.5]}', '{"name":"ok"}')
    feats = extract_geometries(f"<html>{MALFORMED[name]}{valid}</html>")
    assert feats == [{"kind": "geojson",
                      "geometry": {"type": "Point", "coordinates": [13.4, 52.5]},
                      "properties": {"name": "ok"}}]
    for f in feats:
        geojson_to_wire(f["geometry"])
        gb.Encoder(max_precision=10**7).encode(
            {"type": "Feature", "geometry": f["geometry"], "properties": f["properties"]}
        )


def test_null_properties_and_collections_are_kept():
    page = (_feature('{"type":"Point","coordinates":[1,2]}', "null")
            + _feature('{"type":"GeometryCollection","geometries":['
                       '{"type":"Point","coordinates":[3,4]},{"type":"Circle"}]}',
                       '{"k":1}'))
    assert [(f["geometry"]["coordinates"], f["properties"])
            for f in extract_geometries(page)] == [([1, 2], {}), ([3, 4], {"k": 1})]
