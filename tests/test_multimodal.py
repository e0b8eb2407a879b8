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
    df = media_dataframe(spark, 120)
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

def test_wav_roundtrip_16bit_with_skip_chunk():
    """encode -> decode recovers rate, channels, and exact samples;
    the planted LIST chunk before fmt must be skipped."""
    import struct

    import numpy as np

    from geobuf_cpp_spark.operators.multimodal import decode_wav, encode_wav

    s = np.array([0, 1000, -1000, 32767, -32768, 7], dtype=np.int16)
    data = encode_wav(s, 44100)
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
