"""Engine-vs-oracle byte identity through Spark, partitioning independence,
hostile payloads, passthrough columns, and multimodal plumbing."""

import datetime

import pyspark.sql.functions as F
import pytest

from gonova_document_parser_spark.corpus import generate_pages, make_page, build_pdf, _rng
from gonova_document_parser_spark.operators.extract import extract_pages
from gonova_document_parser_spark.operators.multimodal import (
    MEDIA_FEATURE_DIM,
    decode_media,
    media_features,
)
from gonova_document_parser_spark.spec import extract_document

N_DOCS = 200


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_pages(spark, N_DOCS, num_partitions=4).cache()


def test_byte_identity_vs_oracle(spark, corpus):
    got = {r["url"]: r for r in extract_pages(corpus).collect()}
    assert len(got) == N_DOCS
    for i in range(N_DOCS):
        page = make_page(i)
        oracle = extract_document(page["html"])
        row = got[page["url"]]
        assert row["extracted_text"] == oracle["extracted_text"], page["url"]
        assert row["page_type"] == oracle["page_type"]
        assert row["success"] == oracle["success"]
        assert row["n_blocks"] == oracle["n_blocks"]
        assert row["error"] == oracle["error"]
        assert row["warc_ts"] == page["warc_ts"]
        assert [
            (s["start"], s["end"], s["kind"]) for s in row["spans"]
        ] == oracle["spans"]


def test_partitioning_order_independence(spark, corpus):
    a = extract_pages(corpus.repartition(1)).select("url", "extracted_text")
    b = extract_pages(corpus.repartition(16, F.xxhash64("url"))).select(
        "url", "extracted_text"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_hostile_payloads_become_error_rows(spark):
    ts = datetime.datetime(2025, 1, 1)
    pdf = build_pdf(_rng(1, 42))
    rows = [
        ("u1", ts, b"\x00\xff\xfe garbage \x80"),
        ("u2", ts, pdf[: len(pdf) // 3]),
        ("u3", ts, b""),
        ("u4", ts, None),
        ("u5", ts, b"<div><p>soup <b>deep " * 2000),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    got = {r["url"]: r for r in extract_pages(df).collect()}
    assert len(got) == 5  # no task failures
    for u in ("u1", "u2", "u3", "u4"):
        assert got[u]["success"] is False
        assert got[u]["error"].startswith("[Error processing page 1:")
    assert got["u5"]["success"] is True  # depth-capped parse succeeds
    assert "soup" in got["u5"]["extracted_text"]


def test_passthrough_columns(spark, corpus):
    df = corpus.withColumn("tag", F.lit(7).cast("int"))
    out = extract_pages(df, passthrough=("tag",))
    assert "tag" in out.columns
    assert out.where(F.col("tag") != 7).count() == 0


def test_media_features_plumbing(spark, corpus):
    out = media_features(corpus.limit(20), fake=True)
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["error"] is None
        assert len(r["features"]) == MEDIA_FEATURE_DIM
        assert r["n_bytes"] > 0


def test_media_decode_strict_mode_is_stub():
    with pytest.raises(NotImplementedError):
        decode_media(b"xx", "image", fake=False)


def _mp4(timescale: int, duration: int) -> bytes:
    """Minimal ISO-BMFF: ftyp + moov/mvhd(v0) with the given duration."""
    import struct

    mvhd = (
        b"\x00\x00\x00\x00"  # version/flags
        + struct.pack(">II", 0, 0)  # ctime, mtime
        + struct.pack(">II", timescale, duration)
    )
    mvhd_box = struct.pack(">I", 8 + len(mvhd)) + b"mvhd" + mvhd
    moov = struct.pack(">I", 8 + len(mvhd_box)) + b"moov" + mvhd_box
    ftyp = struct.pack(">I", 16) + b"ftypisom" + b"\x00\x00\x02\x00"
    return ftyp + moov


def test_mp4_duration_and_video_sniff():
    """mvhd duration is REAL container metadata (the video sibling of the
    image header parse); video magics sniff correctly."""
    from gonova_document_parser_spark.operators.multimodal import (
        parse_mp4_duration,
        sniff_media_type,
    )

    clip = _mp4(timescale=1000, duration=12500)  # 12.5 s
    assert sniff_media_type(clip) == "mp4"
    assert parse_mp4_duration(clip) == 12.5
    assert parse_mp4_duration(b"not a video") is None
    assert parse_mp4_duration(_mp4(0, 10)) is None  # zero timescale
    assert sniff_media_type(b"\x1a\x45\xdf\xa3rest") == "webm"
    assert sniff_media_type(b"RIFF....AVI move") == "avi"


def test_fit_within_geometry():
    from gonova_document_parser_spark.operators.multimodal import fit_within

    assert fit_within(640, 480, 224, 224) == (224, 168)
    assert fit_within(480, 640, 224, 224) == (168, 224)
    assert fit_within(100, 50, 224, 224) == (100, 50)  # never upscale
    assert fit_within(10000, 1, 224, 224) == (224, 1)  # floor clamps to >= 1


def test_resize_images_plumbing(spark, corpus):
    from gonova_document_parser_spark.operators.multimodal import resize_images

    out = resize_images(corpus.limit(10), 224, 224, fake=True).collect()
    assert len(out) == 10
    for r in out:
        assert r["error"] is None
        assert 1 <= r["width"] <= 224 and 1 <= r["height"] <= 224
        assert len(bytes(r["resized"])) == 32  # sha256 stand-in payload
    # strict mode: the NotImplementedError seam becomes ERROR ROWS (M4
    # policy — never a task failure), marking exactly where PIL plugs in
    strict = resize_images(corpus.limit(3), 224, 224, fake=False).collect()
    assert all(
        r["resized"] is None and "pixel resample" in r["error"] for r in strict
    )


def test_sample_frames_fanout(spark, corpus):
    """One payload row fans out into min(duration+1, max_frames) frame rows
    with a uniform schedule; a real mp4 payload uses its TRUE duration."""
    from pyspark.sql import Row

    from gonova_document_parser_spark.operators.multimodal import sample_frames

    clip = _mp4(timescale=10, duration=25)  # 2.5 s -> 3 frames at 1 fps
    df = spark.createDataFrame(
        [Row(url="v1", html=bytearray(clip))],
        "url string, html binary",
    )
    rows = sample_frames(df, fps=1.0, max_frames=16).collect()
    assert [(r["frame_idx"], r["ts_s"]) for r in rows] == [(0, 0.0), (1, 1.0), (2, 2.0)]
    assert all(r["media_type"] == "mp4" and r["duration_s"] == 2.5 for r in rows)
    assert len({bytes(r["frame"]) for r in rows}) == 3  # distinct stand-ins
    # opaque payloads cap at max_frames
    out = sample_frames(corpus.limit(10), fps=1.0, max_frames=4).groupBy("url").count()
    assert all(1 <= r["count"] <= 4 for r in out.collect())


def test_extraction_plan_is_narrow(spark, corpus):
    """No shuffle (Exchange) in the extraction plan itself."""
    plan = extract_pages(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_image_header_metadata_is_real():
    """PNG/GIF/JPEG dimensions come from the actual container header (pure
    Python, no codec libs) — only pixel decoding stays stubbed."""
    import struct

    from gonova_document_parser_spark.operators.multimodal import (
        decode_media,
        parse_image_header,
        sniff_media_type,
    )

    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00" + b"\x00" * 8
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    jpeg = (
        b"\xff\xd8"                                   # SOI
        + b"\xff\xe0\x00\x10JFIF\x00" + b"\x00" * 9   # APP0 (len 16)
        + b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 1080, 1920) + b"\x03" + b"\x00" * 10
        + b"\xff\xd9"
    )
    assert sniff_media_type(png) == "png" and parse_image_header(png) == (640, 480)
    assert sniff_media_type(gif) == "gif" and parse_image_header(gif) == (320, 200)
    assert sniff_media_type(jpeg) == "jpeg" and parse_image_header(jpeg) == (1920, 1080)
    w, h, feats = decode_media(png, "png", fake=True)
    assert (w, h) == (640, 480) and len(feats) == 16
    # opaque payload still deterministic hash-derived
    w2, h2, _ = decode_media(b"opaque bytes", "image", fake=True)
    assert 1 <= w2 <= 256 and 1 <= h2 <= 256
    assert parse_image_header(b"\xff\xd8\xff\xc0\x00") is None  # truncated
    assert sniff_media_type(b"RIFF....WAVE") == "wav"
    assert sniff_media_type(b"%PDF-1.4") == "pdf_scan"
