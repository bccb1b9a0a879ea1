"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata
struct.  The Spark-side plumbing — schema, Arrow batch shape, partitioning,
UDF signatures — is real and tested.  Codec status, honestly:

- ``probe_media``: magic-byte type sniff (real);
- ``decode_wav`` / ``audio_stats``: REAL RIFF/PCM parser (pure
  numpy/struct) — integer waveform stats over 8/16-bit WAV;
- ``synth_wav`` / ``synthetic_media*``: deterministic fixture blobs
  (valid WAV files, or magic-byte stubs); no image decoder ships, and
  compressed formats (JPEG/PNG/MP3/H.264) have no codec backend here.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media", T.BinaryType()),
        T.StructField("media_type", T.StringType()),
    ]
)

_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"RIFF", "audio/wav"),
    (b"ID3", "audio/mp3"),
    (b"\x00\x00\x00", "video/mp4"),
]

_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("detected_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def probe_one(blob: bytes) -> tuple[str, int, int]:
    """(detected_type, n_bytes, crc32) for one blob — module-level so the
    golden-fixture generator replays the EXACT kernel outside Spark."""
    import zlib

    b = bytes(blob)
    detected = "application/octet-stream"
    for magic, mt in _MAGIC:
        if b.startswith(magic):
            detected = mt
            break
    return detected, len(b), zlib.crc32(b)


def probe_media(df: DataFrame) -> DataFrame:
    """Deterministic media probe: magic-byte type sniff + size + crc."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, types_, sizes, sums = [], [], [], []
            for mid, blob in zip(batch["media_id"], batch["media"]):
                detected, n, crc = probe_one(blob)
                ids.append(int(mid))
                types_.append(detected)
                sizes.append(n)
                sums.append(crc)
            yield pd.DataFrame(
                {"media_id": ids, "detected_type": types_, "n_bytes": sizes,
                 "checksum": sums}
            )

    return df.select("media_id", "media").mapInPandas(run, schema=_PROBE_SCHEMA)


def synthetic_media_rows(n: int = 64) -> list[tuple[int, bytes, str]]:
    """Deterministic fake media rows (shared by the Spark table and the
    golden-fixture generator)."""
    rows = []
    magics = [b"\x89PNG\r\n", b"\xff\xd8\xff\xe0", b"RIFF....WAVE", b"\x00\x00\x00 ftypmp42"]
    types_ = ["image/png", "image/jpeg", "audio/wav", "video/mp4"]
    for i in range(n):
        body = bytes((i * 7 + j) % 256 for j in range(512 + (i % 5) * 128))
        rows.append((i, magics[i % 4] + body, types_[i % 4]))
    return rows


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests/benchmarks (doc_id-keyed
    blobs with recognizable magic bytes)."""
    return spark.createDataFrame(synthetic_media_rows(n), schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# real decoder for uncompressed PCM WAV (pure numpy/struct — no codec
# libraries needed).  Compressed audio raises: it needs codec libs.
# ---------------------------------------------------------------------------


def decode_wav(blob: bytes) -> tuple[int, int, int, "np.ndarray"]:
    """(sample_rate, n_channels, bits, samples[int32]) from a PCM WAV.

    Full RIFF chunk walk — fmt/data located by tag, unknown chunks skipped
    (word-aligned), so files with LIST/INFO metadata parse too.  16-bit and
    8-bit PCM supported; anything else (float, ADPCM, mp3-in-wav) raises
    NotImplementedError honestly."""
    import struct

    b = bytes(blob)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        tag = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _byte_rate, _align, bits = fmt
    if audio_format != 1 or bits not in (8, 16):
        raise NotImplementedError(
            f"only integer PCM wav supported (format={audio_format}, "
            f"bits={bits}); compressed audio needs codec libs"
        )
    if bits == 16:
        samples = np.frombuffer(
            data[: len(data) - (len(data) % 2)], dtype="<i2"
        ).astype(np.int32)
    else:
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    return sample_rate, n_channels, bits, samples


def wav_stats_one(blob: bytes) -> tuple[int, int, int, int, int, int]:
    """(sample_rate, n_channels, n_frames, rms_q, peak, zero_crossings) —
    ALL integer (exact sums, isqrt), so the golden fixture replays the
    distributed run bit-for-bit."""
    import math

    sample_rate, n_channels, _bits, s = decode_wav(blob)
    # trim a truncated final frame (real crawled files cut mid-frame;
    # decode_wav only trims to whole SAMPLES, not whole frames)
    s = s[: len(s) - (len(s) % n_channels)]
    if len(s) == 0:
        return sample_rate, n_channels, 0, 0, 0, 0
    mono = s.reshape(-1, n_channels).sum(axis=1) // n_channels
    sum_sq = int((mono.astype(np.int64) ** 2).sum())
    rms_q = math.isqrt(sum_sq // len(mono))
    peak = int(np.abs(mono).max())
    signs = mono >= 0
    zc = int((signs[1:] != signs[:-1]).sum())
    return sample_rate, n_channels, len(mono), rms_q, peak, zc


_AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_channels", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("rms_q", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def audio_stats(df: DataFrame) -> DataFrame:
    """PCM WAV blobs -> integer waveform statistics (real decode)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for mid, blob in zip(batch["media_id"], batch["media"]):
                rows.append((int(mid),) + wav_stats_one(blob))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _AUDIO_STATS_SCHEMA.fields]
            )

    return df.select("media_id", "media").mapInPandas(
        run, schema=_AUDIO_STATS_SCHEMA
    )


def synth_wav(i: int, n_frames: int = 2000, sample_rate: int = 8000) -> bytes:
    """Deterministic VALID 16-bit mono PCM WAV (integer triangle-ish wave;
    no float trig so every platform emits identical bytes)."""
    import struct

    period = 20 + (i % 30)
    t = np.arange(n_frames, dtype=np.int64)
    phase = t % period
    tri = np.where(phase < period // 2, phase, period - phase)
    amp = 500 + 400 * (i % 16)
    samples = ((tri - period // 4) * amp // max(1, period // 4)).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def synthetic_media_real(spark, n: int = 32) -> DataFrame:
    """Media table of REAL PCM WAV files with the even ids below ``n`` —
    the WAV decode path runs for real on these."""
    return spark.createDataFrame(synthetic_media_real_rows(n), schema=MEDIA_SCHEMA)


def synthetic_media_real_rows(n: int = 32) -> list[tuple[int, bytes, str]]:
    return [(i, synth_wav(i), "audio/wav") for i in range(0, n, 2)]
