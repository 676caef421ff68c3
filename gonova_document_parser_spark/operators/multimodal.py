"""Multimodal column plumbing: opaque binary payloads + typed metadata.

A training-data pipeline at corpus scale carries images/audio/video as
``binary`` columns with typed metadata and decodes them inside Arrow-batched
UDFs.  The decode step itself needs codec libraries that are NOT in this
container, so it is STUBBED (clearly marked below): ``decode_media`` either
raises ``NotImplementedError`` (strict mode) or produces a deterministic
fake feature vector (test mode).  Everything Spark-side — schema,
partitioning, UDF signature, Arrow batch shape — is real and tested.

The reference's analog is its page-image path (PDF page -> PIL image ->
base64 -> model server, ``mineru_processor.py:150-176,264-331``); here the
bitmap decode/feature step is the pluggable stub and the distribution
plumbing is the deliverable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..session import drop_zip_finders

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd
    from pyspark.sql import DataFrame

MEDIA_FEATURE_DIM = 16

MEDIA_FEATURES_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("media_type", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_bytes", IntegerType(), True),
        StructField("features", ArrayType(FloatType()), True),
        StructField("error", StringType(), True),
    ]
)


def sniff_media_type(data: bytes) -> str:
    """Container format from magic bytes (pure Python, no codec libs)."""
    if data.startswith(b"\x89PNG\r\n\x1a\n"):
        return "png"
    if data.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if data.startswith((b"GIF87a", b"GIF89a")):
        return "gif"
    if data.startswith(b"RIFF") and data[8:12] == b"WAVE":
        return "wav"
    if data.startswith(b"RIFF") and data[8:12] == b"AVI ":
        return "avi"
    if len(data) >= 12 and data[4:8] == b"ftyp":
        return "mp4"
    if data.startswith(b"\x1a\x45\xdf\xa3"):
        return "webm"
    if data.startswith(b"%PDF-"):
        return "pdf_scan"
    return "image"  # opaque binary: generic image payload


def parse_image_header(data: bytes) -> tuple[int, int] | None:
    """(width, height) from the container header — REAL metadata decode,
    no codec library needed (only pixel decoding is stubbed below).

    PNG: IHDR width/height (big-endian u32 at offsets 16/20).
    GIF: logical screen descriptor (little-endian u16 at 6/8).
    JPEG: scan segment markers for a start-of-frame (SOF0..SOF15 except
    DHT/JPG/DAC), whose payload is [precision u8, height u16, width u16].
    """
    try:
        if data.startswith(b"\x89PNG\r\n\x1a\n") and len(data) >= 24:
            return (
                int.from_bytes(data[16:20], "big"),
                int.from_bytes(data[20:24], "big"),
            )
        if data.startswith((b"GIF87a", b"GIF89a")) and len(data) >= 10:
            return (
                int.from_bytes(data[6:8], "little"),
                int.from_bytes(data[8:10], "little"),
            )
        if data.startswith(b"\xff\xd8"):
            i, n = 2, len(data)
            while i + 9 < n:
                if data[i] != 0xFF:
                    i += 1
                    continue
                marker = data[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    height = int.from_bytes(data[i + 5 : i + 7], "big")
                    width = int.from_bytes(data[i + 7 : i + 9], "big")
                    return (width, height)
                i += 2 + max(seg_len, 2)
    except Exception:  # malformed header -> treated as opaque
        return None
    return None


def parse_mp4_duration(data: bytes) -> float | None:
    """Duration in seconds from the mp4 ``moov/mvhd`` box — REAL container
    metadata decode, no codec library (the video sibling of
    ``parse_image_header``).  Walks top-level ISO-BMFF boxes
    [size u32][type 4cc], recurses into ``moov``; mvhd v0 payload is
    [ver/flags u32][ctime u32][mtime u32][timescale u32][duration u32],
    v1 uses u64 times."""

    def walk(buf: bytes, want: bytes) -> bytes | None:
        i = 0
        while i + 8 <= len(buf):
            size = int.from_bytes(buf[i : i + 4], "big")
            if size < 8:
                return None
            if buf[i + 4 : i + 8] == want:
                return buf[i + 8 : i + size]
            i += size
        return None

    try:
        moov = walk(data, b"moov")
        if moov is None:
            return None
        mvhd = walk(moov, b"mvhd")
        if mvhd is None or len(mvhd) < 4:
            return None
        version = mvhd[0]
        if version == 0 and len(mvhd) >= 20:
            timescale = int.from_bytes(mvhd[12:16], "big")
            duration = int.from_bytes(mvhd[16:20], "big")
        elif version == 1 and len(mvhd) >= 32:
            timescale = int.from_bytes(mvhd[20:24], "big")
            duration = int.from_bytes(mvhd[24:32], "big")
        else:
            return None
        return duration / timescale if timescale else None
    except Exception:  # malformed container -> treated as opaque
        return None


def fit_within(width: int, height: int, target_w: int, target_h: int) -> tuple[int, int]:
    """Aspect-preserving fit (never upscale): REAL geometry, shared by the
    Spark op and the DuckDB oracle (LEAST/FLOOR of the same integer math)."""
    scale = min(target_w / width, target_h / height, 1.0)
    return max(1, int(width * scale)), max(1, int(height * scale))


def decode_media(payload: bytes, media_type: str, fake: bool = True):
    """Header metadata is decoded for real (``parse_image_header``); PIXEL
    decoding is STUBBED — it needs PIL/ffmpeg, not present in this container.

    Recognized image containers return their true header dimensions.  For
    the pixel-derived feature vector (and dimensions of opaque payloads):
    fake=True returns a deterministic (payload-hash-derived) stand-in so
    the distributed plumbing is testable; fake=False raises
    NotImplementedError exactly where a real pixel decoder would plug in.
    """
    dims = parse_image_header(payload)
    if not fake:
        raise NotImplementedError(
            "media PIXEL decode requires codec libraries (PIL/ffmpeg); "
            "plug a real decoder in here"
        )
    digest = hashlib.sha256(payload).digest()
    if dims is not None:
        width, height = dims  # real header metadata
    else:
        width = 1 + digest[0]  # deterministic fake dimensions
        height = 1 + digest[1]
    features = [b / 255.0 for b in digest[:MEDIA_FEATURE_DIM]]
    return width, height, features


def media_features(df: "DataFrame", payload_col: str = "html", fake: bool = True) -> "DataFrame":
    """(url, <binary payload>) -> per-item decoded metadata + feature vector.

    Arrow-batched mapInPandas; decode errors become error rows, never task
    failures (same policy as extraction M4).
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            drop_zip_finders()
            rows = []
            for url, payload in zip(pdf["url"], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                mtype = sniff_media_type(data)
                try:
                    width, height, feats = decode_media(data, mtype, fake=fake)
                    rows.append((url, mtype, width, height, len(data), feats, None))
                except Exception as exc:  # noqa: BLE001
                    rows.append((url, mtype, None, None, len(data), None, str(exc)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "url",
                    "media_type",
                    "width",
                    "height",
                    "n_bytes",
                    "features",
                    "error",
                ],
            )

    return df.select("url", payload_col).mapInPandas(batches, MEDIA_FEATURES_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("media_type", StringType(), True),
        StructField("src_width", IntegerType(), True),
        StructField("src_height", IntegerType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("resized", BinaryType(), True),
        StructField("error", StringType(), True),
    ]
)


def resize_images(
    df: "DataFrame",
    target_w: int = 224,
    target_h: int = 224,
    payload_col: str = "html",
    fake: bool = True,
) -> "DataFrame":
    """Aspect-fit image resize over binary payloads (Arrow-batched).

    REAL: source dimensions (container header parse, or the deterministic
    sha256 stand-in for opaque payloads — same convention as
    ``decode_media``) and the output geometry (``fit_within``).  STUBBED:
    the pixel resample itself — fake=True emits a deterministic
    sha256-derived stand-in payload; fake=False raises NotImplementedError
    where a real resampler (PIL) plugs in.  Decode errors become error
    rows, never task failures.
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            drop_zip_finders()
            rows = []
            for url, payload in zip(pdf["url"], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                mtype = sniff_media_type(data)
                try:
                    dims = parse_image_header(data)
                    if dims is None:
                        digest = hashlib.sha256(data).digest()
                        dims = (1 + digest[0], 1 + digest[1])
                    w, h = fit_within(dims[0], dims[1], target_w, target_h)
                    if not fake:
                        raise NotImplementedError(
                            "pixel resample requires PIL; plug a real "
                            "resampler in here"
                        )
                    resized = hashlib.sha256(
                        data + b":%dx%d" % (w, h)
                    ).digest()  # deterministic stand-in payload
                    rows.append((url, mtype, dims[0], dims[1], w, h, resized, None))
                except Exception as exc:  # noqa: BLE001
                    rows.append((url, mtype, None, None, None, None, None, str(exc)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "media_type", "src_width", "src_height",
                    "width", "height", "resized", "error",
                ],
            )

    return df.select("url", payload_col).mapInPandas(batches, RESIZE_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("media_type", StringType(), True),
        StructField("duration_s", FloatType(), True),
        StructField("frame_idx", IntegerType(), True),
        StructField("ts_s", FloatType(), True),
        StructField("frame", BinaryType(), True),
        StructField("error", StringType(), True),
    ]
)


def sample_frames(
    df: "DataFrame",
    fps: float = 1.0,
    max_frames: int = 16,
    payload_col: str = "html",
    fake: bool = True,
) -> "DataFrame":
    """Uniform frame sampling over video payloads: one input row fans out
    into ``min(floor(duration*fps)+1, max_frames)`` frame rows.

    REAL: the container duration (mp4 ``mvhd`` parse; deterministic
    sha256 stand-in ``1 + digest[2] % 30`` seconds for opaque payloads)
    and the sampling schedule (frame k at ``ts = k/fps``).  STUBBED: the
    frame pixel decode — fake=True emits sha256(payload:k) stand-in
    bytes; fake=False raises NotImplementedError where ffmpeg plugs in.
    The row fan-out shape (explode inside mapInPandas) is the deliverable:
    it is exactly how a real sampler distributes.
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            drop_zip_finders()
            rows = []
            for url, payload in zip(pdf["url"], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                mtype = sniff_media_type(data)
                try:
                    duration = parse_mp4_duration(data)
                    if duration is None:
                        duration = float(1 + hashlib.sha256(data).digest()[2] % 30)
                    n = min(int(duration * fps) + 1, max_frames)
                    if not fake:
                        raise NotImplementedError(
                            "frame decode requires ffmpeg; plug a real "
                            "decoder in here"
                        )
                    for k in range(n):
                        frame = hashlib.sha256(data + b":%d" % k).digest()
                        rows.append(
                            (url, mtype, duration, k, k / fps, frame, None)
                        )
                except Exception as exc:  # noqa: BLE001
                    rows.append((url, mtype, None, None, None, None, str(exc)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "media_type", "duration_s", "frame_idx",
                    "ts_s", "frame", "error",
                ],
            )

    return df.select("url", payload_col).mapInPandas(batches, FRAMES_SCHEMA)
