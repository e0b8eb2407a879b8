"""Pure-Python + numpy Geobuf codec (GeoJSON dict <-> PBF bytes).

Re-implements, from public knowledge of the wire format, the codec semantics
of the reference encoder/decoder (district10/geobuf-cpp,
``src/geobuf/geobuf.cpp``), to be wrapped by Arrow-batched pandas UDFs:

* Data header: repeated ``keys`` (tag 1, first-seen order —
  geobuf.cpp:217-231, 359-372), ``dim`` (tag 2, omitted when == 2 —
  geobuf.cpp:232-234), ``precision`` = log10(e) (tag 3, omitted when == 6 —
  geobuf.cpp:235-239), then FeatureCollection/Feature/Geometry under
  tag 4/5/6 (geobuf.cpp:241-253).
* dim auto-detect: any nonzero z promotes the document to dim=3
  (geobuf.cpp:346-348).
* precision auto-detect: e grows x10 while ``round(coord*e)/e != coord``,
  capped at ``max_precision`` (geobuf.cpp:349-357). Rounding is C++
  ``std::round`` = half-away-from-zero, NOT banker's rounding
  (geobuf.cpp:479; divergence documented in reference
  tests/test_geobuf.cpp:61-83).
* Coordinates: quantize -> per-ring delta -> zigzag -> packed varint
  (geobuf.cpp:473-552). The delta running sum RESETS per ring/line (local
  ``sum`` in populateLine, geobuf.cpp:537-552; decode mirror
  ``populate_points`` geobuf.cpp:681-700).
* Ring closing: closed shapes drop the last point on encode
  (``size()-1``, geobuf.cpp:497,516,542) and re-close on decode
  (geobuf.cpp:696-698).
* Lengths omission: MultiLineString/Polygon omit tag-2 lengths for a single
  part (geobuf.cpp:492-500); MultiPolygon omits for 1 polygon x 1 ring, else
  writes ``[n_polys, (n_rings, ring_size...)...]`` (geobuf.cpp:509-519).
* Values: string tag1 / double tag2 / uint64 tag3 (int >= 0) / int64 tag4
  encoded as ``uint64(-v)`` (!) / bool tag5 / nested JSON as string tag6
  (geobuf.cpp:462-470, decode :860-882). Python ints split by sign like the
  reference binding (src/geobuf/pybind11_helpers.hpp:352-358); ``bytes``
  become base64 strings (pybind11_helpers.hpp:68-75).
* ``custom_properties``: extra JSON members on geometry / feature / feature
  collection, wire tag 15 (geobuf.cpp:381-383, 402-404, 443-445).

Two deliberate, documented deviations from the reference implementation:

1. **Value-index scoping.** The reference restarts ``valueIndex`` at 0 for
   every ``writeProps`` call (geobuf.cpp:451-458) while its decoder
   accumulates all tag-13 values of the parent message into one list
   (geobuf.cpp:643-673) — so a feature carrying BOTH properties and
   custom_properties decodes its custom values against the wrong slots
   (visible as the disabled ``expected == actually`` assertion in reference
   tests/test_geobuf.py:385). This codec continues the value index across
   the property groups of one parent message, making round-trips lossless;
   documents with only one property group (all standard GeoJSON fixtures)
   are byte-compatible with the reference encoder's layout.
2. **Feature ids.** Int ids in the int64 range are written as tag 12 int64
   (geobuf.cpp:393); ints OUTSIDE int64 (uint64 upper half / bigints) take
   the reference's generic branch and are JSON-dumped into the tag-11
   string id (geobuf.cpp:395-397) — they decode back as numeric strings,
   exactly like the reference decoder. Strings go to tag 11; any other id
   type is JSON-dumped into tag 11.
"""

from __future__ import annotations

import base64
import json
import math
import struct
from math import copysign, floor
from typing import Any

import numpy as np

from .jsonio import loads_relaxed
from .pbf import PbfReader, pack_sint64_array, varint

DEFAULT_DIM = 2
DEFAULT_PRECISION = 6

GEOM_TYPES = (
    "Point",
    "MultiPoint",
    "LineString",
    "MultiLineString",
    "Polygon",
    "MultiPolygon",
    "GeometryCollection",
)
GEOM_TYPE_CODE = {name: i for i, name in enumerate(GEOM_TYPES)}

_GEOMETRY_STD_KEYS = {"type", "coordinates", "geometries"}
_FEATURE_STD_KEYS = {"type", "geometry", "properties", "id"}
_FC_STD_KEYS = {"type", "features"}


def round_half_away(x: float, e: float) -> int:
    """C++ std::round semantics: halfway cases away from zero (geobuf.cpp:479)."""
    v = x * e
    return int(math.copysign(math.floor(abs(v) + 0.5), v))


def _quantize(arr: np.ndarray, e: float) -> np.ndarray:
    """Vectorized half-away-from-zero quantization to int64."""
    v = arr * e
    return np.copysign(np.floor(np.abs(v) + 0.5), v).astype(np.int64)


def json_dumps_canonical(obj: Any) -> str:
    """Compact JSON like RapidJSON's Writer (no spaces, raw UTF-8)."""
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

# The write pass returns each message as ``bytes``: its fields joined in
# wire order, a sub-message written as one length-delimited field of its
# parent. Field keys are constants, and the one-byte varints (below 128:
# most lengths and key/value indexes of a web-page feature) come from a
# table.

_U64_MAX = 0xFFFFFFFFFFFFFFFF
_DOUBLE = struct.Struct("<d")
_VARINTS = tuple(bytes((n,)) for n in range(0x80))
_N_VARINTS = len(_VARINTS)


def _uvarint(n: int) -> bytes:
    return _VARINTS[n] if 0 <= n < _N_VARINTS else varint(n)


def _field(key: bytes, payload: bytes) -> bytes:
    """Length-delimited field: key, varint byte length, payload."""
    n = len(payload)
    return key + (_VARINTS[n] if n < _N_VARINTS else varint(n)) + payload


def _key(tag: int, wire: int) -> bytes:
    return _uvarint((tag << 3) | wire)


# Data message (geobuf.cpp:217-253)
_DATA_KEY = _key(1, 2)
_DATA_DIM = _key(2, 0)
_DATA_PRECISION = _key(3, 0)
_DATA_FC = _key(4, 2)
_DATA_FEATURE = _key(5, 2)
_DATA_GEOMETRY = _key(6, 2)
# FeatureCollection / Feature / Geometry members (geobuf.cpp:374-445)
_FC_FEATURE = _key(1, 2)
_FEATURE_GEOMETRY = _key(1, 2)
_FEATURE_ID_STRING = _key(11, 2)
_FEATURE_ID_INT = _key(12, 0)
_VALUES = _key(13, 2)
_PROPERTIES = _key(14, 2)
_CUSTOM_PROPERTIES = _key(15, 2)
_GEOMETRY_TYPE = tuple(_key(1, 0) + _uvarint(code) for code in range(len(GEOM_TYPES)))
_GEOMETRY_LENGTHS = _key(2, 2)
_GEOMETRY_COORDS = _key(3, 2)
_GEOMETRY_MEMBER = _key(4, 2)
# Value variant (geobuf.cpp:462-470)
_VALUE_STRING = _key(1, 2)
_VALUE_DOUBLE = _key(2, 1)
_VALUE_POS_INT = _key(3, 0)
_VALUE_NEG_INT = _key(4, 0)
_VALUE_FALSE = _key(5, 0) + _uvarint(0)
_VALUE_TRUE = _key(5, 0) + _uvarint(1)
_VALUE_JSON = _key(6, 2)

# nesting depth of a coordinate array below the geometry, by type
_COORD_DEPTH = {
    "Point": 0,
    "MultiPoint": 1,
    "LineString": 1,
    "MultiLineString": 2,
    "Polygon": 2,
    "MultiPolygon": 3,
}

# Lines of up to this many points are analyzed, and then quantized,
# delta-coded and packed, by scalar loops; longer ones by the numpy
# kernels. Below it numpy's per-call set-up costs more than the loops
# (measured single-core on 2D lines: the packing crossover lies at 64-96
# points, the analyze crossover past 96).
_SCALAR_MAX_POINTS = 64


class Encoder:
    """One instance per document; not thread safe (mirrors reference Encoder)."""

    def __init__(self, max_precision: int = 10**DEFAULT_PRECISION) -> None:
        self.max_precision = float(max_precision)
        self.dim = DEFAULT_DIM
        self.e = 1.0
        self.keys: dict[str, int] = {}
        # custom members of the document's objects, by object identity: the
        # analyze pass computes them, the write pass reads them back
        self._customs: dict[int, dict] = {}

    # -- analyze pass (geobuf.cpp:285-358) --------------------------------

    def _analyze_points(self, pts) -> None:
        """dim and precision over a list of points, point by point: any
        nonzero z promotes dim to 3; ``e`` grows x10 while a coordinate
        within dim does not round-trip through ``round(c * e) / e``."""
        e = self.e
        max_e = self.max_precision
        for pt in pts:
            if len(pt) > 2 and pt[2] != 0:
                self.dim = 3
            if e < max_e:
                for c in pt[: self.dim]:
                    while e < max_e:
                        v = c * e
                        if copysign(floor(abs(v) + 0.5), v) / e == c:
                            break
                        e *= 10
        self.e = e

    def _analyze_matrix(self, arr: np.ndarray) -> None:
        """Vectorized analyze over an (n, k) coordinate matrix.

        Result is identical to the reference per-point loop
        (geobuf.cpp:346-358): the final ``e`` is the max over coordinates of
        the minimal fitting power of ten (monotone growth, order-free), and
        dim=3 iff any z != 0; only coordinates within the *final* dim feed
        the precision loop, which the two-pass order below preserves.
        """
        if arr.shape[1] > 2 and np.any(arr[:, 2] != 0):
            self.dim = 3
        cols = min(arr.shape[1], self.dim)
        flat = arr[:, :cols].ravel()
        while self.e < self.max_precision:
            v = flat * self.e
            ok = np.copysign(np.floor(np.abs(v) + 0.5), v) / self.e == flat
            if ok.all():
                break
            flat = flat[~ok]
            self.e *= 10

    def _analyze_coords(self, coords, depth: int) -> None:
        if depth == 0:
            self._analyze_points((coords,))
        elif depth == 1:
            k = len(coords[0]) if coords else 0
            if len(coords) > _SCALAR_MAX_POINTS and all(len(pt) == k for pt in coords):
                self._analyze_matrix(np.asarray(coords, dtype=np.float64))
            else:  # short or ragged
                self._analyze_points(coords)
        else:
            for sub in coords:
                self._analyze_coords(sub, depth - 1)

    def _save_keys(self, props) -> None:
        if props:
            keys = self.keys
            for k in props:
                if k not in keys:
                    keys[k] = len(keys)

    def _analyze_custom(self, obj: dict, std_keys: set) -> None:
        if not obj.keys() <= std_keys:
            custom = _custom_props(obj, std_keys)
            self._customs[id(obj)] = custom
            self._save_keys(custom)

    def _analyze_geometry(self, geom: dict | None) -> None:
        if not geom:
            return
        t = geom.get("type")
        if t == "GeometryCollection":
            for sub in geom.get("geometries", ()):
                self._analyze_geometry(sub)
        elif t in _COORD_DEPTH:
            self._analyze_coords(geom.get("coordinates", ()), _COORD_DEPTH[t])
        self._analyze_custom(geom, _GEOMETRY_STD_KEYS)

    def _analyze_feature(self, f: dict) -> None:
        self._save_keys(f.get("properties"))
        self._analyze_custom(f, _FEATURE_STD_KEYS)
        self._analyze_geometry(f.get("geometry"))

    # -- write pass (geobuf.cpp:210-552) -----------------------------------

    def encode(self, obj: dict) -> bytes:
        self.dim = DEFAULT_DIM
        self.e = 1.0
        self.keys = {}
        self._customs = {}

        t = obj.get("type")
        if t == "FeatureCollection":
            for f in obj.get("features", ()):
                self._analyze_feature(f)
            self._analyze_custom(obj, _FC_STD_KEYS)
        elif t == "Feature":
            self._analyze_feature(obj)
        else:
            self._analyze_geometry(obj)

        parts = [_field(_DATA_KEY, key.encode("utf-8")) for key in self.keys]
        if self.dim != DEFAULT_DIM:
            parts.append(_DATA_DIM + _uvarint(self.dim))
        precision = int(round(math.log10(min(self.e, self.max_precision))))
        if precision != DEFAULT_PRECISION:
            parts.append(_DATA_PRECISION + _uvarint(precision))
        if t == "FeatureCollection":
            parts.append(_field(_DATA_FC, self._fc(obj)))
        elif t == "Feature":
            parts.append(_field(_DATA_FEATURE, self._feature(obj)))
        else:
            parts.append(_field(_DATA_GEOMETRY, self._geometry(obj)))
        return b"".join(parts)

    def _fc(self, fc: dict) -> bytes:
        parts = [_field(_FC_FEATURE, self._feature(f)) for f in fc.get("features", ())]
        custom = self._customs.get(id(fc))
        if custom:
            self._props(custom, _CUSTOM_PROPERTIES, 0, parts)
        return b"".join(parts)

    def _feature(self, f: dict) -> bytes:
        parts = []
        geom = f.get("geometry")
        if geom:
            parts.append(_field(_FEATURE_GEOMETRY, self._geometry(geom)))
        fid = f.get("id")
        if isinstance(fid, str):
            parts.append(_field(_FEATURE_ID_STRING, fid.encode("utf-8")))
        elif (isinstance(fid, int) and not isinstance(fid, bool)
              and -(1 << 63) <= fid < (1 << 63)):
            parts.append(_FEATURE_ID_INT + _uvarint(fid & _U64_MAX))
        elif fid is not None:
            # reference geobuf.cpp:392-397: any other id takes the generic
            # branch and is JSON-dumped into the tag-11 string id — also an
            # int outside int64 (the uint64 upper half, or a Python bigint)
            parts.append(_field(_FEATURE_ID_STRING,
                                json_dumps_canonical(fid).encode("utf-8")))
        n = 0
        props = f.get("properties")
        if props:
            n = self._props(props, _PROPERTIES, 0, parts)
        custom = self._customs.get(id(f))
        if custom:
            self._props(custom, _CUSTOM_PROPERTIES, n, parts)
        return b"".join(parts)

    def _geometry(self, geom: dict) -> bytes:
        code = GEOM_TYPE_CODE.get(geom.get("type"))
        coords = geom.get("coordinates")
        if code is None:
            parts = []
        elif code == 0:  # Point
            parts = [_GEOMETRY_TYPE[0],
                     _field(_GEOMETRY_COORDS, _pack_scalar((coords,), 1, self.dim, self.e))]
        elif code <= 2:  # MultiPoint, LineString
            parts = [_GEOMETRY_TYPE[code], _field(_GEOMETRY_COORDS, self._lines((coords,), False))]
        elif code <= 4:  # MultiLineString, Polygon (rings are closed)
            closed = code == 4
            parts = [_GEOMETRY_TYPE[code]]
            if len(coords) != 1:
                drop = 1 if closed else 0
                parts.append(_field(_GEOMETRY_LENGTHS,
                                    _packed_uvarints([len(line) - drop for line in coords])))
            parts.append(_field(_GEOMETRY_COORDS, self._lines(coords, closed)))
        elif code == 5:  # MultiPolygon
            parts = [_GEOMETRY_TYPE[5]]
            if len(coords) != 1 or len(coords[0]) != 1:
                lengths = [len(coords)]
                for poly in coords:
                    lengths.append(len(poly))
                    lengths.extend(len(ring) - 1 for ring in poly)
                parts.append(_field(_GEOMETRY_LENGTHS, _packed_uvarints(lengths)))
            parts.append(_field(_GEOMETRY_COORDS, self._lines(
                [ring for poly in coords for ring in poly], True)))
        else:  # GeometryCollection
            parts = [_GEOMETRY_TYPE[6]]
            parts.extend(_field(_GEOMETRY_MEMBER, self._geometry(sub))
                         for sub in geom.get("geometries", ()))
        custom = self._customs.get(id(geom))
        if custom:
            self._props(custom, _CUSTOM_PROPERTIES, 0, parts)
        return b"".join(parts)

    def _lines(self, lines, closed: bool) -> bytes:
        """Packed coords of consecutive lines or rings: the delta running
        sum resets per line (geobuf.cpp:537-552) and a closed ring drops its
        last point. One numpy pack covers all lines once any is long."""
        if all(0 < len(line) <= _SCALAR_MAX_POINTS for line in lines):
            drop = 1 if closed else 0
            return b"".join([_pack_scalar(line, len(line) - drop, self.dim, self.e)
                             for line in lines])
        return pack_sint64_array(np.concatenate([self._deltas(line, closed) for line in lines]))

    def _deltas(self, line, closed: bool) -> np.ndarray:
        """Quantize + per-line delta of one line with numpy."""
        k0 = len(line[0]) if line else 0
        if line and not all(len(pt) == k0 for pt in line):
            # ragged mixed 2/3-coord points: missing z defaults to 0
            # (reference stores every point as xyz in memory)
            mat = np.zeros((len(line), 3), dtype=np.float64)
            for i, pt in enumerate(line):
                mat[i, : len(pt)] = pt[:3]
        else:
            mat = np.asarray(line, dtype=np.float64).reshape(len(line), -1)
        arr = _pad(mat, self.dim)
        if closed:
            arr = arr[:-1]
        q = _quantize(arr, self.e)
        out = q.copy()
        out[1:] -= q[:-1]
        return out.ravel()

    def _props(self, props: dict, tag_key: bytes, value_offset: int, parts: list) -> int:
        """Append tag-13 values + the packed [key_idx, val_idx] pairs.

        Returns the number of values written so a second group in the same
        parent message can continue the value index (deviation #1 above).
        """
        keys = self.keys
        pairs = []
        value_index = value_offset
        for key, value in props.items():
            parts.append(_field(_VALUES, _value(value)))
            pairs.append(_uvarint(keys[key]))
            pairs.append(_uvarint(value_index))
            value_index += 1
        parts.append(_field(tag_key, b"".join(pairs)))
        return value_index - value_offset


def _pack_scalar(pts, n: int, dim: int, e: float) -> bytes:
    """The first ``n`` points, ``dim`` values each (missing ones are 0):
    quantize half away from zero, delta against the previous point, zigzag,
    varint — the scalar twin of ``_deltas`` + ``pack_sint64_array``."""
    out = bytearray()
    prev = [0] * dim
    for i in range(n):
        pt = pts[i]
        k = len(pt)
        for j in range(dim):
            v = (pt[j] if j < k else 0.0) * e
            q = int(copysign(floor(abs(v) + 0.5), v))
            d = q - prev[j]
            prev[j] = q
            z = (d << 1) ^ (d >> 63)
            if z > _U64_MAX:
                raise OverflowError(f"quantized coordinate delta {d} outside int64")
            while z > 0x7F:
                out.append((z & 0x7F) | 0x80)
                z >>= 7
            out.append(z)
    return bytes(out)


def _packed_uvarints(values) -> bytes:
    return b"".join([_uvarint(v) for v in values])


def _pad(arr: np.ndarray, dim: int) -> np.ndarray:
    """Pad/truncate an (n, k) coord matrix to the document dim (z=0 default)."""
    if arr.ndim == 1:
        arr = arr.reshape(1, -1)
    k = arr.shape[1]
    if k == dim:
        return arr
    if k > dim:
        return arr[:, :dim]
    out = np.zeros((arr.shape[0], dim), dtype=np.float64)
    out[:, :k] = arr
    return out


def _custom_props(obj: dict, std_keys: set) -> dict:
    return {k: v for k, v in obj.items() if k not in std_keys}


def _value(value: Any) -> bytes:
    """6-way value variant (geobuf.cpp:462-470; int sign split per
    pybind11_helpers.hpp:352-358; bytes -> base64 per :68-75)."""
    if isinstance(value, bool):
        return _VALUE_TRUE if value else _VALUE_FALSE
    if isinstance(value, int):
        if value >= 0:
            return _VALUE_POS_INT + _uvarint(value)
        return _VALUE_NEG_INT + _uvarint(-value)
    if isinstance(value, float):
        return _VALUE_DOUBLE + _DOUBLE.pack(value)
    if isinstance(value, str):
        return _field(_VALUE_STRING, value.encode("utf-8"))
    if isinstance(value, bytes):
        return _field(_VALUE_STRING, base64.b64encode(value))
    # None / list / dict -> JSON string under tag 6
    return _field(_VALUE_JSON, json_dumps_canonical(value).encode("utf-8"))


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


class Decoder:
    """PBF bytes -> GeoJSON dict (mirrors reference Decoder, geobuf.cpp:561-882)."""

    def __init__(self) -> None:
        self.dim = DEFAULT_DIM
        self.e = 10.0**DEFAULT_PRECISION
        self.keys: list[str] = []
        self.precision = DEFAULT_PRECISION

    def decode(self, data: bytes) -> dict:
        import struct

        try:
            return self._decode(data)
        except (IndexError, ValueError, UnicodeDecodeError, KeyError,
                struct.error) as ex:
            raise ValueError(f"malformed geobuf ({len(data)} bytes): {ex}") from ex

    def _decode(self, data: bytes) -> dict:
        self.dim = DEFAULT_DIM
        self.e = 10.0**DEFAULT_PRECISION
        self.precision = DEFAULT_PRECISION
        self.keys = []
        pbf = PbfReader(data)
        while pbf.next():
            if pbf.tag == 1:
                self.keys.append(pbf.get_string())
            elif pbf.tag == 2:
                self.dim = pbf.get_uint32()
            elif pbf.tag == 3:
                self.precision = pbf.get_uint32()
                self.e = 10.0**self.precision
            elif pbf.tag == 4:
                return self._read_fc(PbfReader(pbf.get_bytes()))
            elif pbf.tag == 5:
                return self._read_feature(PbfReader(pbf.get_bytes()))
            elif pbf.tag == 6:
                return self._read_geometry(PbfReader(pbf.get_bytes()))
            else:
                pbf.skip()
        return {}

    def _unpack_props(self, target: dict, indexes: np.ndarray, values: list) -> None:
        it = iter(indexes.tolist())
        for key_idx in it:
            val_idx = next(it)
            target[self.keys[key_idx]] = values[val_idx]

    def _read_fc(self, pbf: PbfReader) -> dict:
        fc: dict = {"type": "FeatureCollection", "features": []}
        values: list = []
        while pbf.next():
            if pbf.tag == 1:
                fc["features"].append(self._read_feature(PbfReader(pbf.get_bytes())))
            elif pbf.tag == 13:
                values.append(_read_value(PbfReader(pbf.get_bytes())))
            elif pbf.tag == 15:
                idx = pbf.get_packed_uint32()
                if idx.size % 2 == 0:
                    self._unpack_props(fc, idx, values)
            else:
                pbf.skip()
        return fc

    def _read_feature(self, pbf: PbfReader) -> dict:
        f: dict = {"type": "Feature", "geometry": None, "properties": {}}
        values: list = []
        while pbf.next():
            if pbf.tag == 1:
                f["geometry"] = self._read_geometry(PbfReader(pbf.get_bytes()))
            elif pbf.tag == 11:
                f["id"] = pbf.get_string()
            elif pbf.tag == 12:
                f["id"] = pbf.get_int64()
            elif pbf.tag == 13:
                values.append(_read_value(PbfReader(pbf.get_bytes())))
            elif pbf.tag == 14:
                idx = pbf.get_packed_uint32()
                if idx.size % 2 == 0:
                    self._unpack_props(f["properties"], idx, values)
            elif pbf.tag == 15:
                idx = pbf.get_packed_uint32()
                if idx.size % 2 == 0:
                    self._unpack_props(f, idx, values)
            else:
                pbf.skip()
        return f

    def _points(self, deltas: np.ndarray, closed: bool = False):
        """cumsum deltas / e, re-close (populate_points, geobuf.cpp:681-700)."""
        n = deltas.size // self.dim
        mat = deltas[: n * self.dim].reshape(n, self.dim).cumsum(axis=0) / self.e
        pts = mat.tolist()
        if closed and pts:
            pts.append(pts[0])
        return [_strip_z(p) for p in pts]

    def _read_geometry(self, pbf: PbfReader) -> dict | None:
        if not pbf.next():
            return None
        gtype = pbf.get_enum()
        lengths: np.ndarray | None = None
        values: list = []
        geom: dict = {"type": GEOM_TYPES[gtype] if gtype < 7 else "Point"}
        custom: dict = {}
        if gtype == 6:
            geom["geometries"] = []
        while pbf.next():
            if pbf.tag == 2:
                lengths = pbf.get_packed_uint32().astype(np.int64)
            elif pbf.tag == 3:
                deltas = pbf.get_packed_sint64()
                self._populate(geom, gtype, lengths, deltas)
            elif pbf.tag == 4:
                geom.setdefault("geometries", []).append(
                    self._read_geometry(PbfReader(pbf.get_bytes()))
                )
            elif pbf.tag == 13:
                values.append(_read_value(PbfReader(pbf.get_bytes())))
            elif pbf.tag == 15:
                idx = pbf.get_packed_uint32()
                if idx.size % 2 == 0:
                    self._unpack_props(custom, idx, values)
            else:
                pbf.skip()
        geom.update(custom)
        return geom

    def _populate(self, geom: dict, gtype: int, lengths, deltas: np.ndarray) -> None:
        if gtype == 0:  # Point
            pt = (deltas.astype(np.float64) / self.e).tolist()[: self.dim]
            geom["coordinates"] = _strip_z(pt)
        elif gtype in (1, 2):  # MultiPoint / LineString
            geom["coordinates"] = self._points(deltas)
        elif gtype in (3, 4):  # MultiLineString / Polygon
            closed = gtype == 4
            if lengths is None or lengths.size == 0:
                rings = [self._points(deltas, closed)]
            else:
                rings = []
                last = 0
                for ln in lengths.tolist():
                    rings.append(self._points(deltas[last * self.dim : (last + ln) * self.dim], closed))
                    last += ln
            geom["coordinates"] = rings
        elif gtype == 5:  # MultiPolygon (layout geobuf.cpp:777-805)
            if lengths is None or lengths.size == 0:
                geom["coordinates"] = [[self._points(deltas, True)]]
            else:
                ls = lengths.tolist()
                polys = []
                j = 1
                last = 0
                for _ in range(ls[0]):
                    n_rings = ls[j]
                    j += 1
                    poly = []
                    for _ in range(n_rings):
                        n_pts = ls[j]
                        j += 1
                        poly.append(self._points(deltas[last * self.dim : (last + n_pts) * self.dim], True))
                        last += n_pts
                    polys.append(poly)
                geom["coordinates"] = polys


def _strip_z(pt: list) -> list:
    """mapbox geojson-cpp emits the 3rd coordinate only when z != 0."""
    if len(pt) > 2 and pt[2] == 0:
        return pt[:2]
    return pt


def _read_value(pbf: PbfReader):
    if not pbf.next():
        return None
    if pbf.tag == 1:
        return pbf.get_string()
    if pbf.tag == 2:
        return pbf.get_double()
    if pbf.tag == 3:
        return pbf.get_uint64()
    if pbf.tag == 4:
        return -pbf.get_uint64()
    if pbf.tag == 5:
        return pbf.get_bool()
    if pbf.tag == 6:
        return json.loads(pbf.get_string())
    pbf.skip()
    return None


# ---------------------------------------------------------------------------
# module-level conveniences (mirror reference module fns, src/main.cpp:33-84)
# ---------------------------------------------------------------------------


def encode(obj: dict | str, max_precision: int = 10**8) -> bytes:
    if isinstance(obj, str):
        obj = loads_relaxed(obj)
    return Encoder(max_precision=max_precision).encode(obj)


def decode(data: bytes) -> dict:
    return Decoder().decode(data)


def normalize_json(obj: dict | str, sort_keys: bool = True, indent: int | None = 4) -> str:
    """Canonical JSON text for golden comparison (geobuf-roundtrip-test.py:55-63)."""
    if isinstance(obj, str):
        obj = loads_relaxed(obj)
    return json.dumps(obj, sort_keys=sort_keys, indent=indent, ensure_ascii=False)


def normalize_geobuf(data: bytes, max_precision: int = 10**8) -> bytes:
    """decode -> re-encode (pybind11_geobuf/__main__.py:54-80)."""
    return encode(decode(data), max_precision=max_precision)


def str2json2str(text: str, indent: bool = False, sort_keys: bool = False) -> str:
    """string -> DOM -> string (parity with src/main.cpp:46-62); the
    parse honors the reference's relaxed flags (comments, trailing
    commas — rapidjson_helpers.hpp:16-19)."""
    return json.dumps(
        loads_relaxed(text), indent=4 if indent else None,
        sort_keys=sort_keys, ensure_ascii=False,
        separators=None if indent else (",", ":"),
    )


def str2geojson2str(text: str, indent: bool = False, sort_keys: bool = False) -> str:
    """string -> geojson round trip -> string (src/main.cpp:64-84).

    Routes the document through encode∘decode at max precision so the
    output reflects the engine's geojson normalization (coordinate
    quantization, property value canonicalization).
    """
    doc = decode(encode(loads_relaxed(text), max_precision=10**8))
    return json.dumps(
        doc, indent=4 if indent else None, sort_keys=sort_keys,
        ensure_ascii=False, separators=None if indent else (",", ":"),
    )
