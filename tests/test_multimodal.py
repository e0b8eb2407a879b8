"""Multimodal binary columns: schema, stubbed decode, batch shapes."""

import numpy as np
import pytest

from geobuf_cpp_spark.operators.multimodal import (
    decode_stub,
    extract_media_features,
    media_dataframe,
    media_stats,
    synth_media_batch,
)


@pytest.fixture(scope="module")
def media(spark):
    df = media_dataframe(spark, 120, partitions=4)
    df.persist()
    yield df
    df.unpersist()


def test_media_generation_deterministic():
    a = synth_media_batch(np.arange(10))
    b = synth_media_batch(np.arange(10))
    assert all(x == y for x, y in zip(a["payload"], b["payload"]))
    assert set(a["kind"]) == {"image", "audio"}


def test_decode_stub_roundtrip():
    row = synth_media_batch(np.array([5])).iloc[0]
    w, h, body = decode_stub(row["payload"])
    assert (w, h) == (row["meta"]["width"], row["meta"]["height"])
    assert body.size == len(row["payload"]) - 12


def test_real_codec_raises_not_implemented():
    row = synth_media_batch(np.array([1])).iloc[0]
    with pytest.raises(NotImplementedError, match="jpeg"):
        decode_stub(row["payload"], codec="jpeg")


def test_feature_extraction_shapes(spark, media):
    feats = extract_media_features(media).toPandas()
    assert len(feats) == 120
    assert all(len(f) == 8 for f in feats["feature"])
    # histogram features are normalized
    assert np.allclose([sum(f) for f in feats["feature"]], 1.0, atol=1e-5)
    assert (feats["mean_byte"] > 0).all()


def test_media_stats_prunes_payload(spark, media, tmp_path):
    # pruning is a property of the columnar scan: persist to parquet first
    path = str(tmp_path / "media")
    media.write.parquet(path)
    stored = spark.read.parquet(path)
    stats = media_stats(stored)
    out = stats.toPandas()
    assert out["n"].sum() == 120
    plan = stats._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l or "ReadSchema" in l]
    assert scan and all("payload" not in l for l in scan), plan

# ---------------------------------------------------------------------------
# real PNG codec: decode verified against an INDEPENDENT test-side encoder
# over every scanline filter type and supported color type
# ---------------------------------------------------------------------------


def _encode_png(pixels, color_type, filter_type):
    """Minimal test-side PNG writer (one fixed filter for all rows)."""
    import struct as _struct
    import zlib as _zlib

    import numpy as _np

    h, w = pixels.shape[:2]
    ch = 1 if pixels.ndim == 2 else pixels.shape[2]
    flat = pixels.reshape(h, w * ch).astype(_np.int64)
    lines = []
    prev = _np.zeros(w * ch, dtype=_np.int64)
    for y in range(h):
        cur = flat[y]
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            left = _np.concatenate([_np.zeros(ch, _np.int64), cur[:-ch]])
            enc = (cur - left) & 255
        elif filter_type == 2:
            enc = (cur - prev) & 255
        elif filter_type == 3:
            left = _np.concatenate([_np.zeros(ch, _np.int64), cur[:-ch]])
            enc = (cur - (left + prev) // 2) & 255
        else:  # Paeth
            left = _np.concatenate([_np.zeros(ch, _np.int64), cur[:-ch]])
            ul = _np.concatenate([_np.zeros(ch, _np.int64), prev[:-ch]])
            pa = _np.abs(prev - ul)
            pb = _np.abs(left - ul)
            pc = _np.abs(left + prev - 2 * ul)
            pred = _np.where(
                (pa <= pb) & (pa <= pc), left, _np.where(pb <= pc, prev, ul)
            )
            enc = (cur - pred) & 255
        lines.append(bytes([filter_type]) + enc.astype(_np.uint8).tobytes())
        prev = cur

    def chunk(typ, data):
        crc = _zlib.crc32(typ + data) & 0xFFFFFFFF
        return _struct.pack(">I", len(data)) + typ + data + _struct.pack(">I", crc)

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    idat = _zlib.compress(b"".join(lines))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))


def _png_cases():
    rng = np.random.default_rng(7)
    cases = []
    for color_type, ch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        for filter_type in range(5):
            shape = (11, 13) if ch == 1 else (11, 13, ch)
            cases.append((color_type, filter_type,
                          rng.integers(0, 256, shape, dtype=np.uint8)))
    return cases


def test_png_decode_all_filters_and_color_types():
    from geobuf_cpp_spark.operators.multimodal import decode_png

    for color_type, filter_type, pixels in _png_cases():
        data = _encode_png(pixels, color_type, filter_type)
        w, h, gray = decode_png(data)
        assert (w, h) == (13, 11), (color_type, filter_type)
        if color_type == 0:
            expect = pixels
        elif color_type == 4:
            expect = pixels[:, :, 0]
        else:
            expect = (pixels[:, :, :3].astype(np.int64).sum(axis=2) // 3
                      ).astype(np.uint8)
        assert np.array_equal(gray, expect.reshape(-1)), (
            color_type, filter_type)


def test_png_decode_rejects_unsupported_loudly():
    from geobuf_cpp_spark.operators.multimodal import decode_png

    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF" + b"\x00" * 64)
    gray = np.zeros((4, 4), dtype=np.uint8)
    interlaced = bytearray(_encode_png(gray, 0, 0))
    # IHDR data starts at offset 16; interlace flag is its last byte
    interlaced[16 + 12] = 1
    with pytest.raises(NotImplementedError, match="interlace"):
        decode_png(bytes(interlaced))


def test_media_features_over_real_png_payloads(spark):
    """extract_media_features decodes REAL PNG bytes end to end through
    the Spark mapInPandas path (no fake codec anywhere)."""
    import pandas as pd

    from geobuf_cpp_spark.operators.multimodal import extract_media_features

    cases = _png_cases()[:8]
    rows = [
        {
            "media_id": i,
            "kind": "image",
            "payload": _encode_png(px, ct, ft),
            "meta": {"width": 13, "height": 11,
                     "n_bytes": len(_encode_png(px, ct, ft))},
        }
        for i, (ct, ft, px) in enumerate(cases)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows),
        "media_id long, kind string, payload binary, "
        "meta struct<width: int, height: int, n_bytes: int>",
    )
    got = {r["media_id"]: r
           for r in extract_media_features(df, codec="png").collect()}
    assert len(got) == len(cases)
    for i, (ct, ft, px) in enumerate(cases):
        if ct == 0:
            gray = px
        elif ct == 4:
            gray = px[:, :, 0]
        else:
            gray = (px[:, :, :3].astype(np.int64).sum(axis=2) // 3
                    ).astype(np.uint8)
        r = got[i]
        assert (r["width"], r["height"]) == (13, 11)
        assert abs(r["mean_byte"] - float(gray.mean())) < 1e-9
        assert len(r["feature"]) == 8


def test_wav_roundtrip_16bit_with_skip_chunk():
    """encode -> decode recovers rate, channels, and exact samples;
    the planted LIST chunk before fmt must be skipped."""
    import struct

    import numpy as np

    from geobuf_cpp_spark.operators.multimodal import decode_wav, encode_wav

    s = np.array([0, 1000, -1000, 32767, -32768, 7], dtype=np.int16)
    data = encode_wav(s, 44100,
                      extra_chunk=b"LIST" + struct.pack("<I", 4) + b"INFO")
    rate, ch, got = decode_wav(data)
    assert (rate, ch) == (44100, 1)
    assert got.tolist() == s.astype(int).tolist()


def test_wav_decode_8bit_rebased():
    """8-bit PCM is unsigned; the decoder rebases to signed around 128."""
    import struct

    from geobuf_cpp_spark.operators.multimodal import decode_wav

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    pcm = bytes([0, 128, 255, 200])
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    data = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    rate, ch, got = decode_wav(data)
    assert (rate, ch) == (8000, 1)
    assert got.tolist() == [-128, 0, 127, 72]


def test_wav_decode_rejects_garbage_and_nonpcm():
    import struct

    import pytest

    from geobuf_cpp_spark.operators.multimodal import decode_wav

    with pytest.raises(ValueError):
        decode_wav(b"OggS" + b"\x00" * 40)
    # IEEE-float WAV (tag 3) is honestly not implemented
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", 4) + b"\x00" * 4
    data = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    with pytest.raises(NotImplementedError):
        decode_wav(data)


def test_wav_stats_square_wave_closed_form(spark):
    """The Spark-side decoded stats equal the square wave's closed
    forms for a couple of hand-checked ids."""
    from geobuf_cpp_spark.operators.multimodal import (
        _wav_params,
        wav_dataframe,
        wav_stats,
    )

    out = {r.media_id: r for r in
           wav_stats(wav_dataframe(spark, 8)).collect()}
    assert len(out) == 8
    for i in range(8):
        n, hp, a = _wav_params(i)
        q, r = divmod(n, 2 * hp)
        npos = q * hp + min(r, hp)
        row = out[i]
        assert (row.n_frames, row.peak) == (n, a)
        assert row.sum_samples == a * (2 * npos - n)
        assert row.sumsq == n * a * a
        assert row.zero_crossings == (n - 1) // hp
