"""Multimodal column handling: opaque binary media + typed metadata.

Image/audio/video payloads ride as ``binary`` columns with a typed metadata
struct; all Spark-side plumbing (schema, partitioning by media kind, Arrow
batch shape through ``mapInPandas``) is real and tested. Codecs:

* ``wav`` — REAL: a pure-stdlib RIFF/PCM parser (chunk walk with
  unknown-chunk skipping and odd-size padding, 8/16-bit PCM) plus a
  minimal PCM16 writer — see ``decode_wav``/``encode_wav`` below.
* ``fake`` — the deterministic synthetic format below, the one
  ``extract_media_features`` decodes (image codecs such as png or jpeg
  need libraries this engine does not ship).

Synthetic payload format (deterministic, seeded):
    bytes 0..3   magic b"FIMG" | b"FAUD"
    bytes 4..7   width / sample-rate  (uint32 LE)
    bytes 8..11  height / n-samples   (uint32 LE)
    bytes 12..   mix64 keystream bytes (the fake "pixels")
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..sources.pages import mix64

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width: int, height: int, n_bytes: int>"
)

FEATURE_SCHEMA = (
    "media_id long, kind string, width int, height int, "
    "mean_byte double, feature array<float>"
)


KNUTH = 2654435761  # Knuth multiplicative hash constant


def media_dims(i: int) -> tuple[int, int]:
    """width/height as bounded-product integer hashes of the id.

    Deliberately expressible in portable 64-bit SQL (i * KNUTH < 2^63 for
    any realistic id, then mod 2^32 / mod 48) so the DuckDB oracle of the
    media queries can regenerate the metadata independently from
    ``range(n)`` — a hard cross-engine signal without reading any payload.
    """
    w = 16 + ((i * KNUTH) % (1 << 32)) % 48
    h = 16 + (((i + 7) * KNUTH) % (1 << 32)) % 48
    return w, h


def sql_media_meta(n: int) -> str:
    """DuckDB SELECT regenerating (media_id, kind, width, height, n_bytes)."""
    return (
        "SELECT range AS media_id, "
        "CASE WHEN range % 3 = 0 THEN 'audio' ELSE 'image' END AS kind, "
        f"CAST(16 + ((range * {KNUTH}) % 4294967296) % 48 AS INT) AS width, "
        f"CAST(16 + (((range + 7) * {KNUTH}) % 4294967296) % 48 AS INT) AS height, "
        "CAST(12 + CASE WHEN range % 3 = 0 "
        f"THEN (16 + ((range * {KNUTH}) % 4294967296) % 48) * 256 "
        f"ELSE (16 + ((range * {KNUTH}) % 4294967296) % 48) "
        f"   * (16 + (((range + 7) * {KNUTH}) % 4294967296) % 48) END AS INT) AS n_bytes "
        f"FROM range(0, {n})"
    )


def synth_media_batch(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic fake media rows (pure function of id)."""
    rows = []
    for i in ids.tolist():
        kind = "image" if i % 3 else "audio"
        w, h = media_dims(i)
        n = w * h if kind == "image" else w * 256
        stream = mix64(np.arange(i, i + (n + 7) // 8, dtype=np.uint64))
        body = stream.tobytes()[:n]
        magic = b"FIMG" if kind == "image" else b"FAUD"
        payload = magic + struct.pack("<II", w, h) + body
        rows.append(
            {
                "media_id": i,
                "kind": kind,
                "payload": payload,
                "meta": {"width": w, "height": h, "n_bytes": len(payload)},
            }
        )
    return pd.DataFrame(rows)


def media_dataframe(spark, n: int):
    parts = spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield synth_media_batch(pdf["id"].to_numpy())

    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, MEDIA_SCHEMA)


def decode_stub(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a synthetic ``fake`` payload -> (width, height, body)."""
    magic, w, h = payload[:4], *struct.unpack("<II", payload[4:12])
    if magic not in (b"FIMG", b"FAUD"):
        raise ValueError(f"bad magic {magic!r}")
    body = np.frombuffer(payload, dtype=np.uint8, offset=12)
    return w, h, body


def extract_media_features(media_df):
    """Arrow-batched decode + feature extraction (a pooled byte histogram —
    the stand-in for an embedding model's output, shape-correct end to end).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                w, h, body = decode_stub(bytes(payload))
                hist, _ = np.histogram(body, bins=8, range=(0, 256))
                denom = max(int(body.size), 1)
                rows.append(
                    {
                        "media_id": int(mid),
                        "kind": kind,
                        "width": int(w),
                        "height": int(h),
                        "mean_byte": float(body.mean()) if body.size else 0.0,
                        "feature": (hist / denom).astype(np.float32).tolist(),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "width", "height", "mean_byte", "feature"],
            )

    return media_df.select("media_id", "kind", "payload").mapInPandas(
        gen, FEATURE_SCHEMA
    )


def media_stats(media_df):
    """JVM-side metadata aggregation — no decode, pure column pruning:
    the scan should read meta+kind only, never the payload bytes."""
    return media_df.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum("meta.n_bytes").alias("total_bytes"),
        F.avg("meta.width").alias("avg_width"),
    )


# ---------------------------------------------------------------------------
# WAV (RIFF PCM) — the REAL codec: pure-stdlib parse,
# no audio library needed.
# ---------------------------------------------------------------------------

def decode_wav(data: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a RIFF/WAVE container and return
    (sample_rate, n_channels, samples) with samples an int32 array of
    shape (n_frames * n_channels,) in interleaved frame order.

    Real parser, not a stub: walks the chunk list in any order, skips
    unknown chunks (LIST, cue, ...) honoring the RIFF odd-size pad
    byte, and accepts uncompressed PCM (format tag 1) at 8-bit
    (unsigned, rebased to signed) or 16-bit (signed LE) depth.
    Compressed formats (ADPCM, float, mp3-in-wav) raise
    ``NotImplementedError`` — loudly, same policy as the image codecs.
    """
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)   # odd chunk sizes are padded
    if fmt is None or pcm is None:
        raise ValueError("missing fmt or data chunk")
    tag, channels, rate, _byte_rate, _align, bits = fmt
    if tag != 1:
        raise NotImplementedError(
            f"WAVE format tag {tag} (non-PCM) requires audio libraries "
            "not present in this container; only PCM (tag 1) is decoded"
        )
    if bits == 16:
        samples = np.frombuffer(
            pcm, dtype="<i2", count=len(pcm) // 2).astype(np.int32)
    elif bits == 8:
        samples = np.frombuffer(pcm, dtype=np.uint8).astype(np.int32) - 128
    else:
        raise NotImplementedError(f"PCM bit depth {bits} not supported")
    if channels < 1:
        raise ValueError("channel count must be >= 1")
    return rate, channels, samples


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """Minimal mono PCM16 WAV writer (the synth side of the round-trip).
    A 4-byte LIST chunk is spliced in BEFORE fmt/data to exercise the
    parser's unknown-chunk skipping."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"LIST" + struct.pack("<I", 4) + b"INFO"
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    if len(pcm) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


WAV_RATE = 8000


def _wav_params(i: int) -> tuple[int, int, int]:
    """(n_frames, half_period, amplitude) as the same bounded-product
    integer hashes of the id that `media_dims` uses — so the DuckDB
    oracle regenerates every stat in closed form from range(n)."""
    n = 64 + ((i * KNUTH) % (1 << 32)) % 192
    hp = 8 + (((i + 3) * KNUTH) % (1 << 32)) % 24
    a = 1000 + (((i + 11) * KNUTH) % (1 << 32)) % 9000
    return n, hp, a


def synth_wav_batch(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic mono PCM16 square-wave WAV files: sample t is +a
    when (t div hp) is even else -a. Each payload carries a LIST chunk
    so decoding exercises real chunk skipping."""
    rows = []
    for i in ids.tolist():
        n, hp, a = _wav_params(i)
        t = np.arange(n, dtype=np.int64)
        s = np.where((t // hp) % 2 == 0, a, -a)
        payload = encode_wav(s, WAV_RATE)
        rows.append({"media_id": i, "payload": payload})
    return pd.DataFrame(rows)


def wav_dataframe(spark, n: int):
    parts = spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield synth_wav_batch(pdf["id"].to_numpy())

    return spark.range(0, n, numPartitions=parts).mapInPandas(
        gen, "media_id long, payload binary")


def wav_stats(wav_df) -> "pd.DataFrame":
    """Arrow-batched REAL decode + exact integer audio stats per file:
    peak (max |s|), sum_samples, sumsq (both exact BIGINT — energies of
    bounded 16-bit PCM stay < 2^63 up to ~2^31 frames), and
    zero_crossings (sign flips between consecutive frames, the
    classic voiced/unvoiced discriminator).

    Scale shape: payload bytes flow Arrow-batched through one
    ``mapInPandas`` and are dropped before the exchange — only the
    fixed-width stat row leaves the stage."""
    out_schema = (
        "media_id long, sample_rate int, n_channels int, n_frames long, "
        "peak long, sum_samples long, sumsq long, zero_crossings long"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, ch, s = decode_wav(bytes(payload))
                s64 = s.astype(np.int64)
                rows.append({
                    "media_id": int(mid),
                    "sample_rate": rate,
                    "n_channels": ch,
                    "n_frames": len(s) // ch,
                    "peak": int(np.abs(s64).max(initial=0)),
                    "sum_samples": int(s64.sum()),
                    "sumsq": int((s64 * s64).sum()),
                    "zero_crossings": int(
                        (np.sign(s64[1:]) != np.sign(s64[:-1])).sum()),
                })
            yield pd.DataFrame(rows)

    return wav_df.mapInPandas(gen, out_schema)
