"""Multimodal plumbing tests: Arrow batch shapes, schemas, binary-column
round-trips, JVM-side media-type filtering, and the NotImplementedError
gate on the (stubbed) real decoders."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hfsa_spark.operators.multimodal import (
    extract_audio_features,
    extract_image_features,
    sample_frames,
    synthesize_media_table,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"text body {i} " * (i + 1), "en", "src0", 10) for i in range(20)],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    )


def test_image_features_deterministic(spark, docs):
    media = synthesize_media_table(docs, "image")
    a = {r["doc_id"]: r["phash"] for r in extract_image_features(media, fake=True).collect()}
    b = {r["doc_id"]: r["phash"] for r in extract_image_features(media, fake=True).collect()}
    assert a == b and len(a) == 20


def test_non_image_rows_never_reach_python(spark, docs):
    media = synthesize_media_table(docs, "video")
    out = extract_image_features(media, fake=True)
    assert out.count() == 0  # filter is JVM-side; python stage sees nothing


def test_real_decode_unrecognized_payloads_yield_nulls(spark, docs):
    # synthesize_media_table payloads are text bytes, not images: the real
    # header decoder must keep rows 1:1 with null dims, never raise/drop
    media = synthesize_media_table(docs, "image")
    out = extract_image_features(media, fake=False).collect()
    assert len(out) == docs.count()
    assert all(r["width"] is None and r["phash"] is None for r in out)


def test_audio_features(spark, docs):
    media = synthesize_media_table(docs, "audio")
    out = extract_audio_features(media, fake=True).collect()
    assert len(out) == 20
    assert all(r["sample_rate"] in (16000, 22050, 44100, 48000) for r in out)
    assert all(0 <= r["rms"] <= 1 for r in out)


def test_frame_sampling_fanout(spark, docs):
    media = synthesize_media_table(docs, "video")
    out = sample_frames(media, every_n=5, fake=True)
    rows = out.collect()
    assert len(rows) >= 20  # >= 1 frame per video
    per_doc = out.groupBy("doc_id").count().collect()
    assert len(per_doc) == 20


# ------------------------------------------------ real format decoders --

import struct
import zlib


def _png(w, h, color_type=6):
    ihdr = struct.pack(">II", w, h) + bytes([8, color_type, 0, 0, 0])
    chunk = struct.pack(">I", 13) + b"IHDR" + ihdr
    return b"\x89PNG\r\n\x1a\n" + chunk + struct.pack(">I", zlib.crc32(chunk[4:]))


def _jpeg(w, h, n_comp=3):
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * n_comp, 8, h, w, n_comp) + bytes(
        3 * n_comp
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _gif(w, h):
    return b"GIF89a" + struct.pack("<HH", w, h) + bytes(3)


def _bmp(w, h, bpp=24):
    info = struct.pack("<IiiHH", 40, w, h, 1, bpp) + bytes(24)
    return b"BM" + struct.pack("<IHHI", 54, 0, 0, 54) + info


def _wav(samples, rate=8000):
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_parse_image_header_real_formats():
    from hfsa_spark.operators.multimodal import parse_image_header

    assert parse_image_header(_png(640, 480)) == {
        "format": "png", "width": 640, "height": 480, "n_channels": 4,
    }
    assert parse_image_header(_jpeg(1920, 1080)) == {
        "format": "jpeg", "width": 1920, "height": 1080, "n_channels": 3,
    }
    assert parse_image_header(_gif(32, 16))["width"] == 32
    b = parse_image_header(_bmp(100, 50))
    assert (b["width"], b["height"], b["n_channels"]) == (100, 50, 3)
    assert parse_image_header(b"not an image") is None


def test_parse_wav_real_samples():
    from hfsa_spark.operators.multimodal import parse_wav

    w = parse_wav(_wav([0, 16384, -16384, 32767], rate=8000))
    assert w["sample_rate"] == 8000 and w["n_channels"] == 1
    assert w["duration_s"] == pytest.approx(4 / 8000)
    assert w["clip_ratio"] == pytest.approx(0.25)  # one sample at full scale
    expected_rms = (sum((s / 32768.0) ** 2 for s in [0, 16384, -16384, 32767]) / 4) ** 0.5
    assert w["rms"] == pytest.approx(expected_rms, rel=1e-6)
    assert parse_wav(b"RIFFxxxxJUNK") is None


def test_real_image_pipeline_end_to_end(spark):
    media = spark.createDataFrame(
        [
            (1, "image", _png(640, 480)),
            (2, "image", _jpeg(1920, 1080)),
            (3, "image", b"garbage"),
        ],
        "doc_id bigint, media_type string, payload binary",
    )
    rows = {r["doc_id"]: r for r in extract_image_features(media, fake=False).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (640, 480)
    assert rows[2]["aspect_ratio"] == pytest.approx(1920 / 1080)
    assert rows[3]["width"] is None


def test_real_audio_pipeline_end_to_end(spark):
    from hfsa_spark.operators.multimodal import extract_audio_features

    media = spark.createDataFrame(
        [(1, "audio", _wav([1000] * 800, rate=16000)), (2, "audio", b"mp3?")],
        "doc_id bigint, media_type string, payload binary",
    )
    rows = {r["doc_id"]: r for r in extract_audio_features(media, fake=False).collect()}
    assert rows[1]["sample_rate"] == 16000
    assert rows[1]["duration_s"] == pytest.approx(0.05)
    assert rows[2]["sample_rate"] is None
