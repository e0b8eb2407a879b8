"""Arrow-batched Spark transforms: extraction, geobuf codec and numpy
kernel stages.

This module owns the engine's feature-row format: a wire ``geom`` struct
(functions/geometry.py), a ``properties`` map whose values are canonical
JSON fragments, and the ``custom_properties`` / ``geom_custom_properties``
maps for feature- and geometry-level custom members. Every conversion
between that row and a GeoJSON Feature goes through ``_feature_row`` (in)
and ``_row_features`` (out); the HTML extract loop lives in
``_extract_encode_batch``. The geobuf sink and reader reuse them.

All heavy work happens inside Arrow-batched generators (Arrow batches in,
Arrow batches out — no per-row Python at the DataFrame boundary, per
BASELINE.json input_hint). On web-page payloads (mostly Points) the
per-feature cost is Python work, not Arrow transfer: the encoder's message
assembly, and a pandas frame of the output plus pyspark's per-element
conversion of it would cost about half as much again as the encode. So the
headline stage, ``extract_encode_features``, is a ``mapInArrow`` stage that
builds its output columns itself; the codec and decode stages, off the
headline path, are ``mapInPandas`` / ``applyInPandas``.

The per-point stages append columns to a frame in one ``mapInArrow``
stage each (``_append_stage``), one body per kernel, so a caller passes
only a frame, columns and constants:

- ``with_kernel_column``: any numpy kernel over its columns (the
  quadkey, geohash and Hilbert keys);
- ``with_point_roundtrip``: encode(Point) -> decode over the coordinate
  columns, 2D and 3D alike;
- ``with_point_feature_size``: the encoded size and precision of a
  Point Feature (the real codec that the SQL size model is checked
  against).
"""

from __future__ import annotations

import json
import math
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..codec import geobuf as gb
from ..extract.html import extract_geometries
from .geometry import GEOM_STRUCT, geojson_to_wire, wire_to_geojson

# the reference's signature extension: arbitrary extra JSON members on
# geometry / feature / feature collection, wire tag 15
# (src/geobuf/geobuf.cpp:381-383,402-404,443-445; README.md:39). Carried as
# canonical-JSON-fragment maps, same encoding as ``properties`` —
# feature-level and geometry-level each get a column (SURVEY §1.4).
CUSTOM_MAPS = (
    ", custom_properties map<string,string>"
    ", geom_custom_properties map<string,string>"
)

FEATURES_SCHEMA = (
    "url string, feature_idx int, kind string, lon double, lat double, "
    f"geom {GEOM_STRUCT}, properties map<string,string>{CUSTOM_MAPS}"
)

DECODED_SCHEMA = (
    "url string, feature_idx int, precision int, dim int, "
    f"geom {GEOM_STRUCT}, properties map<string,string>{CUSTOM_MAPS}"
)


def _props_to_json_map(props: dict) -> dict[str, str]:
    """Property map with canonical-JSON fragment values (lossless for the
    6 wire value kinds incl. the int/double distinction)."""
    return {k: gb.json_dumps_canonical(v) for k, v in props.items()}


def _json_map_to_props(m: dict[str, str] | None) -> dict:
    return {k: json.loads(v) for k, v in (m or {}).items()}


def _feature_row(feature: dict, customs: bool = True) -> dict:
    """GeoJSON Feature (with a geometry) -> feature-row fields.

    ``customs=False`` skips the custom-member scan and leaves both custom
    maps empty — for a reader that carries no custom columns.
    """
    geometry = feature["geometry"]
    t, dim, lengths, coords = geojson_to_wire(geometry)
    row = {
        "geom": {"type": t, "dim": dim, "lengths": lengths, "coords": coords},
        "properties": _props_to_json_map(feature.get("properties") or {}),
        "custom_properties": {},
        "geom_custom_properties": {},
    }
    if customs:
        row["custom_properties"] = _props_to_json_map(
            gb._custom_props(feature, gb._FEATURE_STD_KEYS)
        )
        row["geom_custom_properties"] = _props_to_json_map(
            gb._custom_props(geometry, gb._GEOMETRY_STD_KEYS)
        )
    return row


def _row_features(pdf: pd.DataFrame) -> Iterator[dict]:
    """Feature rows (geom, properties[, custom maps]) -> GeoJSON Features;
    absent custom columns mean no custom members."""
    none = [None] * len(pdf)
    for geom, props, custom, gcustom in zip(
        pdf["geom"], pdf["properties"],
        pdf.get("custom_properties", none),
        pdf.get("geom_custom_properties", none),
    ):
        geometry = wire_to_geojson(
            geom["type"], geom["dim"], geom["lengths"], geom["coords"]
        )
        if gcustom:
            geometry.update(_json_map_to_props(gcustom))
        feature = {
            "type": "Feature",
            "geometry": geometry,
            "properties": _json_map_to_props(props),
        }
        if custom:
            feature.update(_json_map_to_props(custom))
        yield feature


MAX_PRECISION = 10**7  # Encoder precision of both encode stages


def encode_features(features_df):
    """Append a ``geobuf`` binary column — one encoded Feature per row.

    Input needs at least (geom, properties); all input columns pass through.
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in features_df.schema.fields
    ) + ", geobuf binary"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = gb.Encoder(max_precision=MAX_PRECISION)
        for pdf in batches:
            out = pdf.copy()
            out["geobuf"] = [enc.encode(f) for f in _row_features(pdf)]
            yield out

    return features_df.mapInPandas(gen, out_schema)


def extract_encode_features(pages_df):
    """pages(url, html, ...) -> one row per extracted geo feature, with its
    geobuf blob, in ONE Arrow stage.

    The representative (lon, lat) is the first coordinate of the geometry —
    the anchor for cell assignment of point payloads (exact for Points,
    a prefilter anchor for lines/polygons). The extracted GeoJSON is
    encoded directly, without a row round trip.

    One ``mapInArrow`` stage: the pages' Arrow batches go in, and
    ``_extract_encode_batch`` builds each output column with one
    ``pyarrow.array`` call from plain Python lists — no pandas frame and
    no per-element pyspark conversion. Fusing extract and encode keeps one
    Python worker per task and one Arrow round trip.
    """
    ddl = FEATURES_SCHEMA + ", geobuf binary"
    schema = to_arrow_schema(StructType.fromDDL(ddl))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        enc = gb.Encoder(max_precision=MAX_PRECISION)
        for batch in batches:
            yield _extract_encode_batch(batch, enc, schema)

    return pages_df.select("url", "html").mapInArrow(gen, ddl)


def _extract_encode_batch(batch: pa.RecordBatch, enc: gb.Encoder,
                          schema: pa.Schema) -> pa.RecordBatch:
    """One Arrow batch of pages (url, html) -> its feature rows with geobuf
    blobs, as a record batch of ``schema`` (the Arrow form of
    ``FEATURES_SCHEMA + ", geobuf binary"``)."""
    urls, idxs, kinds, lons, lats, blobs = [], [], [], [], [], []
    types, dims, lengths, coords = [], [], [], []
    prop_offsets, prop_keys, prop_values = [0], [], []
    for url, html in zip(batch.column("url").to_pylist(),
                         batch.column("html").to_pylist()):
        text = html.decode("utf-8", errors="replace")
        for idx, feat in enumerate(extract_geometries(text)):
            geometry, props = feat["geometry"], feat["properties"]
            t, dim, lens, flat = geojson_to_wire(geometry)
            urls.append(url)
            idxs.append(idx)
            kinds.append(feat["kind"])
            lons.append(flat[0])
            lats.append(flat[1])
            types.append(t)
            dims.append(dim)
            lengths.append(lens)
            coords.append(flat)
            json_props = _props_to_json_map(props)
            prop_keys.extend(json_props)
            prop_values.extend(json_props.values())
            prop_offsets.append(len(prop_keys))
            blobs.append(enc.encode(
                {"type": "Feature", "geometry": geometry, "properties": props}
            ))

    def column(name: str, values: list) -> pa.Array:
        return pa.array(values, schema.field(name).type)

    def json_map(name: str, offsets: list, keys: list, values: list) -> pa.MapArray:
        t = schema.field(name).type
        return pa.MapArray.from_arrays(
            pa.array(offsets, pa.int32()), pa.array(keys, t.key_type),
            pa.array(values, t.item_type), type=t,
        )

    geom_type = schema.field("geom").type
    geom = pa.StructArray.from_arrays(
        [pa.array(values, geom_type.field(i).type)
         for i, values in enumerate((types, dims, lengths, coords))],
        fields=list(geom_type),
    )
    no_customs = [0] * len(prop_offsets)
    return pa.RecordBatch.from_arrays([
        column("url", urls),
        column("feature_idx", idxs),
        column("kind", kinds),
        column("lon", lons),
        column("lat", lats),
        geom,
        json_map("properties", prop_offsets, prop_keys, prop_values),
        json_map("custom_properties", no_customs, [], []),
        json_map("geom_custom_properties", no_customs, [], []),
        column("geobuf", blobs),
    ], schema=schema)


def encode_feature_collections(features_df, max_precision: int = 10**7):
    """Group features per url into one FeatureCollection geobuf blob.

    The distributed twin of the reference's writeFeatureCollection
    (geobuf.cpp:374-384): ``groupBy(url).applyInPandas`` — one shuffle on
    url, then a single encode per group so the collection shares one keys
    table and one precision header. Optional input columns
    ``custom_properties`` / ``geom_custom_properties`` (per feature) and
    ``fc_custom_properties`` (constant per url — first row wins) ride the
    wire as tag-15 custom members, matching the reference's extension.
    """
    cols = set(features_df.columns)
    has_fc_custom = "fc_custom_properties" in cols

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        enc = gb.Encoder(max_precision=max_precision)
        pdf = pdf.sort_values("feature_idx")
        features = list(_row_features(pdf))
        fc: dict = {"type": "FeatureCollection", "features": features}
        if has_fc_custom and pdf["fc_custom_properties"].iloc[0]:
            fc.update(_json_map_to_props(pdf["fc_custom_properties"].iloc[0]))
        blob = enc.encode(fc)
        return pd.DataFrame(
            {
                "url": [pdf["url"].iloc[0]],
                "n_features": [len(features)],
                "geobuf": [blob],
            }
        )

    select_cols = ["url", "feature_idx", "geom", "properties"] + [
        c for c in ("custom_properties", "geom_custom_properties",
                    "fc_custom_properties") if c in cols
    ]
    return features_df.select(*select_cols).groupBy("url").applyInPandas(
        encode_group, "url string, n_features int, geobuf binary"
    )


def decode_feature_collections(fc_df, blob_col: str = "geobuf",
                               key_col: str = "url"):
    """Inverse of ``encode_feature_collections``: one FC blob row ->
    feature rows (explode), geometry back in wire shape."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = gb.Decoder()
        for pdf in batches:
            rows = []
            for key, blob in zip(pdf[key_col], pdf[blob_col]):
                doc = dec.decode(bytes(blob))
                fc_customs = _props_to_json_map(
                    gb._custom_props(doc, gb._FC_STD_KEYS)
                )
                for idx, feat in enumerate(doc.get("features", [])):
                    if feat.get("geometry"):
                        rows.append({**_feature_row(feat), key_col: key,
                                     "feature_idx": idx,
                                     "fc_custom_properties": fc_customs})
            yield pd.DataFrame(
                rows, columns=[key_col, "feature_idx", "geom", "properties",
                               "custom_properties", "geom_custom_properties",
                               "fc_custom_properties"]
            )

    return fc_df.select(key_col, blob_col).mapInPandas(
        gen,
        f"{key_col} string, feature_idx int, geom {GEOM_STRUCT}, "
        f"properties map<string,string>{CUSTOM_MAPS}"
        ", fc_custom_properties map<string,string>",
    )


def decode_features(encoded_df):
    """Decode ``geobuf`` binaries back to wire-shaped geometry + props."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = gb.Decoder()
        for pdf in batches:
            rows = []
            for url, idx, blob in zip(pdf["url"], pdf["feature_idx"], pdf["geobuf"]):
                row = _feature_row(dec.decode(bytes(blob)))
                row.update(url=url, feature_idx=int(idx),
                           precision=dec.precision, dim=dec.dim)
                rows.append(row)
            yield pd.DataFrame(
                rows,
                columns=["url", "feature_idx", "precision", "dim", "geom",
                         "properties", "custom_properties",
                         "geom_custom_properties"],
            )

    return encoded_df.select("url", "feature_idx", "geobuf").mapInPandas(
        gen, DECODED_SCHEMA
    )


def _append_stage(df, ddl: str, body):
    """``df`` plus the columns of ``ddl`` in one ``mapInArrow`` stage:
    ``body(batch, arrow_types)`` returns one array per new column for
    each Arrow batch of ``df``, and every input column passes through."""
    new = StructType.fromDDL(ddl)
    schema = StructType(df.schema.fields + new.fields)
    types = [f.type for f in to_arrow_schema(new)]

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = body(batch, types)
            yield pa.RecordBatch.from_arrays(
                batch.columns + cols,
                names=batch.schema.names + [f.name for f in new.fields])

    return df.mapInArrow(gen, schema)


def with_kernel_column(df, name: str, ddl_type: str, kernel, cols: list,
                       *consts):
    """``df`` plus column ``name``: the numpy ``kernel(*arrays, *consts)``
    over the arrays of ``cols``, batch by batch."""

    def body(batch: pa.RecordBatch, types: list) -> list:
        arrays = [batch.column(c).to_numpy(zero_copy_only=False)
                  for c in cols]
        return [pa.array(kernel(*arrays, *consts), types[0])]

    return _append_stage(df, f"{name} {ddl_type}", body)


def with_point_roundtrip(df, cols: list, max_precision: int):
    """``df`` plus ``rt_<c>`` for each coordinate column ``c`` of
    ``cols`` (lon, lat[, alt]): each row's Point through encode -> decode
    of the real codec. The encoder writes dim 3 only for a non-zero
    altitude, so a zero altitude comes back as 0.0."""

    def body(batch: pa.RecordBatch, types: list) -> list:
        enc = gb.Encoder(max_precision=max_precision)
        dec = gb.Decoder()
        out = [[] for _ in cols]
        for pt in zip(*(batch.column(c).to_pylist() for c in cols)):
            rt = dec.decode(enc.encode(
                {"type": "Point", "coordinates": list(pt)}))["coordinates"]
            for i, o in enumerate(out):
                o.append(rt[i] if i < len(rt) else 0.0)
        return [pa.array(o, t) for o, t in zip(out, types)]

    return _append_stage(
        df, ", ".join(f"rt_{c} double" for c in cols), body)


def with_point_feature_size(df, cols: list, max_precision: int,
                            properties: dict):
    """``df`` plus (precision, nbytes) of each row's Point Feature with
    ``properties`` from the coordinate columns ``cols``, as the real
    encoder writes it: the precision it chose and the blob's length."""

    def body(batch: pa.RecordBatch, types: list) -> list:
        enc = gb.Encoder(max_precision=max_precision)
        precision, nbytes = [], []
        for pt in zip(*(batch.column(c).to_pylist() for c in cols)):
            nbytes.append(len(enc.encode({
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": list(pt)},
                "properties": properties,
            })))
            precision.append(int(round(math.log10(enc.e))))
        return [pa.array(precision, types[0]), pa.array(nbytes, types[1])]

    return _append_stage(df, "precision int, nbytes int", body)
