"""Real-decoder tests for the last two multimodal paths: uncompressed-BMP
raster decode and the ISO BMFF (MP4) container probe. Fixtures are
written in-test from the public format layouts — no media libraries."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from hfsa_spark.operators.multimodal import (
    decode_bmp,
    decode_image_batch,
    encode_bmp,
    parse_mp4,
    resize_nearest,
    sample_frames,
)


def _gradient(h, w):
    y, x = np.mgrid[0:h, 0:w]
    arr = np.stack([(x * 7) % 256, (y * 11) % 256, (x + y) % 256], axis=2)
    return arr.astype(np.uint8)


# ------------------------------------------------------------------- BMP --


def test_bmp_round_trip():
    arr = _gradient(13, 10)  # odd width exercises the 4-byte row padding
    data = encode_bmp(arr)
    back = decode_bmp(data)
    assert back is not None and np.array_equal(back, arr)


def test_bmp_decode_rejects_compressed_and_foreign():
    assert decode_bmp(b"\x89PNG\r\n\x1a\n" + b"\x00" * 60) is None
    # BI_RLE8-compressed BMP (compression=1) must be refused
    arr = _gradient(4, 4)
    data = bytearray(encode_bmp(arr))
    struct.pack_into("<I", data, 30, 1)
    assert decode_bmp(bytes(data)) is None


def test_resize_nearest_semantics():
    arr = _gradient(100, 60)
    out = resize_nearest(arr, 30, 50)
    assert out.shape == (50, 30, 3)
    # pixel-center mapping: dst (0,0) samples src (floor(0.5*2), floor(0.5*2))
    assert np.array_equal(out[0, 0], arr[1, 1])
    # 2x downscale picks every odd source pixel
    half = resize_nearest(arr, 30, 50)
    assert np.array_equal(half, arr[1::2, 1::2])


def test_decode_image_batch_real_bmp_pixel_stats():
    import pandas as pd

    arr = _gradient(32, 32)
    batch = pd.DataFrame({"doc_id": [1], "payload": [encode_bmp(arr)]})
    out = decode_image_batch(batch)
    luma = arr.astype(np.float64) @ [0.299, 0.587, 0.114]
    assert out.loc[0, "width"] == 32
    assert abs(out.loc[0, "mean_luma"] - luma.mean() / 255.0) < 1e-12
    assert out.loc[0, "phash"] is not None  # real aHash, not a digest


# ------------------------------------------------------------------- MP4 --


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _mp4_skeleton(
    timescale=1000, duration=4000, width=640, height=360,
    media_timescale=30, stts=((90, 1), (30, 2)),
) -> bytes:
    """Minimal ISO BMFF file: ftyp + moov(mvhd, trak(tkhd, mdia(mdhd,
    minf(stbl(stts))))) + mdat — public ISO/IEC 14496-12 box layout."""
    mvhd = bytes(4) + struct.pack(">III", 0, 0, timescale) + struct.pack(
        ">I", duration
    ) + bytes(80)
    tkhd = bytes(4) + bytes(72) + struct.pack(">II", width << 16, height << 16)
    mdhd = bytes(4) + struct.pack(">III", 0, 0, media_timescale) + bytes(8)
    stts_body = bytes(4) + struct.pack(">I", len(stts)) + b"".join(
        struct.pack(">II", c, d) for c, d in stts
    )
    stbl = _box(b"stts", stts_body)
    minf = _box(b"stbl", stbl)
    mdia = _box(b"mdhd", mdhd) + _box(b"minf", minf)
    trak = _box(b"tkhd", tkhd) + _box(b"mdia", mdia)
    moov = _box(b"mvhd", mvhd) + _box(b"trak", trak)
    return (
        _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        + _box(b"moov", moov)
        + _box(b"mdat", b"\x00" * 32)
    )


def test_parse_mp4_skeleton():
    info = parse_mp4(_mp4_skeleton())
    assert info is not None
    assert info["duration_s"] == 4.0
    assert (info["width"], info["height"]) == (640, 360)
    assert info["n_samples"] == 120
    # stts: 90 samples at delta 1, then 30 at delta 2 (media timescale 30)
    assert info["sample_ts_s"][0] == 0.0
    assert info["sample_ts_s"][1] == pytest.approx(1 / 30)
    assert info["sample_ts_s"][90] == pytest.approx(3.0)
    assert info["sample_ts_s"][91] == pytest.approx(3.0 + 2 / 30)


def test_parse_mp4_rejects_non_bmff():
    assert parse_mp4(b"not a video at all, just bytes" * 4) is None
    assert parse_mp4(b"") is None


def test_sample_frames_real_mp4(spark):
    media = spark.createDataFrame(
        [(7, "video", bytearray(_mp4_skeleton()))],
        "doc_id bigint, media_type string, payload binary",
    )
    rows = (
        sample_frames(media, every_n=30)
        .orderBy("frame_idx")
        .collect()
    )
    assert [r["frame_idx"] for r in rows] == [0, 30, 60, 90]
    assert rows[1]["frame_ts_s"] == pytest.approx(1.0)
    assert rows[3]["frame_ts_s"] == pytest.approx(3.0)
    assert all(r["frame_payload"] is None for r in rows)


def test_sample_frames_non_bmff_raises(spark):
    media = spark.createDataFrame(
        [(7, "video", bytearray(b"garbage bytes, no boxes here"))],
        "doc_id bigint, media_type string, payload binary",
    )
    with pytest.raises(Exception, match="BMFF|fake=True"):
        sample_frames(media, every_n=10).collect()


def _bmp8(indices, palette):
    """Hand-rolled 8-bpp BMP: BITMAPFILEHEADER + BITMAPINFOHEADER + RGBQUAD
    palette + bottom-up padded rows (public BMP layout)."""
    h, w = indices.shape
    n = len(palette)
    row_bytes = (w + 3) & ~3
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, :w] = indices[::-1]
    pix = rows.tobytes()
    pix_off = 14 + 40 + 4 * n
    header = struct.pack("<2sIHHI", b"BM", pix_off + len(pix), 0, 0, pix_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(pix), 2835, 2835, n, n)
    pal = b"".join(bytes((b, g, r, 0)) for r, g, b in palette)
    return header + info + pal + pix


def test_bmp_8bpp_maps_through_palette():
    """8-bpp pixels are palette INDICES, not literal luma: a non-identity
    palette must decode to the palette colors."""
    idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    arr = decode_bmp(_bmp8(idx, palette))
    assert arr is not None and arr.shape == (2, 2, 3)
    assert tuple(arr[0, 0]) == (255, 0, 0)
    assert tuple(arr[0, 1]) == (0, 255, 0)
    assert tuple(arr[1, 0]) == (0, 0, 255)
    # out-of-range index → refuse rather than wrap
    assert decode_bmp(_bmp8(np.full((2, 2), 7, dtype=np.uint8), palette)) is None


def test_bmp_8bpp_grayscale_ramp_collapses_to_single_channel():
    idx = np.array([[0, 3], [200, 255]], dtype=np.uint8)
    ramp = [(i, i, i) for i in range(256)]
    arr = decode_bmp(_bmp8(idx, ramp))
    assert arr is not None and arr.shape == (2, 2, 1)
    assert np.array_equal(arr[:, :, 0], idx)


def test_parse_mp4_mvhd_version1():
    """v1 mvhd (64-bit times) parses when complete and is REJECTED when
    truncated — no reads past the box end into sibling boxes."""
    mvhd_v1 = bytes([1, 0, 0, 0]) + bytes(16) + struct.pack(">IQ", 1000, 7000)
    moov = _box(b"mvhd", mvhd_v1)
    good = _box(b"ftyp", b"isom\x00\x00\x02\x00") + _box(b"moov", moov) + _box(
        b"mdat", b"\x00" * 8
    )
    info = parse_mp4(good)
    assert info is not None and info["duration_s"] == 7.0

    truncated = bytes([1, 0, 0, 0]) + bytes(20)  # 24 bytes < v1's 32
    bad = (
        _box(b"ftyp", b"isom\x00\x00\x02\x00")
        + _box(b"moov", _box(b"mvhd", truncated))
        + _box(b"mdat", b"\x00" * 8)
    )
    info = parse_mp4(bad)
    assert info is not None and info["duration_s"] is None


# ------------------------------------------------------------------- PNG --


def _png_chunk(t: bytes, d: bytes) -> bytes:
    import zlib

    return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d))


def test_png_roundtrip_all_filters_and_layouts():
    """decode(encode(a)) is exact for every filter type (None/Sub/Up/
    Average/Paeth + mixed) across gray, gray+alpha, RGB and RGBA."""
    from hfsa_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    for c in (1, 2, 3, 4):
        arr = rng.integers(0, 256, size=(11, 13, c), dtype=np.uint8)
        for f in (0, 1, 2, 3, 4, "mixed"):
            back = decode_png(encode_png(arr, filter_type=f))
            assert back is not None and back.shape == arr.shape, (c, f)
            assert np.array_equal(back, arr), (c, f)


def test_png_palette_decode():
    import zlib

    idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
    palette = [(250, 10, 20), (0, 128, 255), (9, 9, 9)]
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    data = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + _png_chunk(b"PLTE", b"".join(bytes(p) for p in palette))
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    from hfsa_spark.operators.multimodal import decode_png

    arr = decode_png(data)
    assert arr is not None and arr.shape == (2, 2, 3)
    assert tuple(arr[0, 0]) == (250, 10, 20)
    assert tuple(arr[1, 0]) == (9, 9, 9)


def test_png_adam7_interlace_roundtrip():
    """Adam7: 7 independently-filtered sub-images scattered over the
    grid — decode(encode(interlace=True)) must be exact for every
    channel layout and for odd dimensions (empty late passes)."""
    from hfsa_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(13)
    for c in (1, 3, 4):
        for shape in ((16, 16, c), (11, 13, c), (3, 5, c), (1, 1, c)):
            arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
            back = decode_png(encode_png(arr, filter_type="mixed", interlace=True))
            assert back is not None and np.array_equal(back, arr), shape


def test_png_16bit_roundtrip_high_byte():
    """16-bit PNGs decode (filters run on the byte stream, bpp doubles);
    samples downscale to the high byte. Works interlaced too."""
    from hfsa_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(23)
    for c in (1, 3, 4):
        arr = rng.integers(0, 65536, size=(9, 7, c), dtype=np.uint16)
        for il in (False, True):
            back = decode_png(encode_png(arr, filter_type="mixed", interlace=il))
            assert back is not None and back.shape == (9, 7, c), (c, il)
            assert np.array_equal(back, (arr >> 8).astype(np.uint8)), (c, il)


def test_png_unsupported_variants_raise_not_implemented():
    from hfsa_spark.operators.multimodal import decode_png, encode_png

    good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    deep = bytearray(good)
    deep[16 + 8] = 4  # sub-byte depth
    deep[29:33] = struct.pack(">I", __import__("zlib").crc32(bytes(deep[12:29])))
    with pytest.raises(NotImplementedError, match="depth 4"):
        decode_png(bytes(deep))

    assert decode_png(b"not a png at all") is None


def test_image_features_real_png_pixels(spark):
    """extract_image_features' real path computes pixel stats from actual
    PNG bytes — mixed-filter gradient payloads, luma checked against the
    same raster decoded locally."""
    from hfsa_spark.operators.multimodal import (
        decode_png,
        extract_image_features,
        synthesize_png_table,
    )

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id bigint")
    media = synthesize_png_table(docs, width=16, height=16)
    rows = {r["doc_id"]: r for r in extract_image_features(media).collect()}
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    assert len(rows) == 8
    for i in range(8):
        arr = decode_png(payloads[i])
        luma = arr[:, :, :3].astype(np.float64) @ [0.299, 0.587, 0.114]
        assert rows[i]["width"] == 16 and rows[i]["height"] == 16
        assert rows[i]["mean_luma"] == pytest.approx(luma.mean() / 255.0, abs=1e-12)
        base = (7 * i) % 200
        assert round(rows[i]["mean_luma"] * 255000) == (base + 15) * 1000


# ------------------------------------------------------------------- GIF --


def test_gif_lzw_roundtrip_and_palette():
    from hfsa_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(11)
    palette = [(int(r), int(g), int(b)) for r, g, b in rng.integers(0, 256, (16, 3))]
    idx = rng.integers(0, 16, size=(23, 17), dtype=np.uint8)
    arr = decode_gif(encode_gif(idx, palette))
    assert arr is not None and arr.shape == (23, 17, 3)
    want = np.array(palette, dtype=np.uint8)[idx]
    assert np.array_equal(arr, want)


def test_gif_lzw_roundtrip_large_table_growth():
    """Enough distinct pixel runs to push the LZW table through several
    code-width bumps — the classic encoder/decoder desync spot."""
    from hfsa_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(5)
    palette = [(i, 255 - i, (i * 7) % 256) for i in range(256)]
    idx = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    arr = decode_gif(encode_gif(idx, palette))
    assert arr is not None
    want = np.array(palette, dtype=np.uint8)[idx]
    assert np.array_equal(arr, want)


def test_gif_interlace_roundtrip():
    """GIF 4-pass interlace: rows stored in pass order must scatter back
    exactly, including heights where passes are empty."""
    from hfsa_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(17)
    palette = [(i, 255 - i, i) for i in range(64)]
    for shape in ((16, 9), (7, 5), (3, 4), (1, 3)):
        idx = rng.integers(0, 64, size=shape, dtype=np.uint8)
        arr = decode_gif(encode_gif(idx, palette, interlace=True))
        want = np.array(palette, dtype=np.uint8)[idx]
        assert arr is not None and np.array_equal(arr, want), shape


def test_gif_rejects_foreign():
    from hfsa_spark.operators.multimodal import decode_gif

    assert decode_gif(b"NOTAGIF" * 4) is None


def test_image_features_real_gif_pixels(spark):
    from hfsa_spark.operators.multimodal import (
        encode_gif,
        extract_image_features,
    )

    ramp = [(i, i, i) for i in range(256)]
    idx = np.add.outer(np.arange(16), np.arange(16)).astype(np.uint8) + 100
    media = spark.createDataFrame(
        [(3, "image", bytearray(encode_gif(idx, ramp)))],
        "doc_id bigint, media_type string, payload binary",
    )
    rows = extract_image_features(media).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["width"], r["height"]) == (16, 16)
    # gradient mean: 100 + 15 exactly (r=g=b ⇒ luma = index value)
    assert round(r["mean_luma"] * 255000) == 115000


# ------------------------------------------------------------------ JPEG --


def test_jpeg_solid_blocks_roundtrip_exactly():
    from hfsa_spark.operators.jpeg import decode_jpeg, encode_jpeg

    for color in [(0, 0, 0), (255, 255, 255), (180, 90, 40), (13, 200, 77)]:
        a = np.zeros((16, 16, 3), dtype=np.uint8)
        a[:, :] = color
        back = decode_jpeg(encode_jpeg(a, quality=90))
        assert back is not None and back.shape == (16, 16, 3)
        # solid 8x8-aligned blocks are DC-only: every pixel identical
        assert (back == back[0, 0]).all()
        assert np.abs(back[0, 0].astype(int) - np.array(color)).max() <= 2


def test_jpeg_roundtrip_error_bounds_and_shapes():
    from hfsa_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(2)
    smooth = np.zeros((48, 64, 3), dtype=np.uint8)
    x = np.linspace(0, 255, 64)
    smooth[:, :, 0] = np.tile(x, (48, 1))
    smooth[:, :, 1] = np.tile(x[::-1], (48, 1))
    smooth[:, :, 2] = 128
    back = decode_jpeg(encode_jpeg(smooth, quality=95))
    assert np.abs(back.astype(float) - smooth).mean() < 1.0

    noise = rng.integers(0, 256, (13, 21, 1), dtype=np.uint8)  # partial blocks
    back = decode_jpeg(encode_jpeg(noise, quality=90))
    assert back.shape == (13, 21, 1)
    assert np.abs(back.astype(float) - noise).mean() < 30.0  # q90 noise bound


def test_jpeg_restart_markers_decode_identically():
    from hfsa_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(3)
    a = rng.integers(0, 256, (40, 56, 3), dtype=np.uint8)
    plain = decode_jpeg(encode_jpeg(a, 85))
    with_rst = decode_jpeg(encode_jpeg(a, 85, restart_interval=3))
    assert np.array_equal(plain, with_rst)


def test_jpeg_rejects_and_raises():
    import pytest as _pytest

    from hfsa_spark.operators.jpeg import decode_jpeg, encode_jpeg

    assert decode_jpeg(b"definitely not a jpeg") is None
    assert decode_jpeg(b"\xff\xd8\xff\xd9") is None  # no frame
    data = bytearray(encode_jpeg(np.zeros((8, 8, 1), dtype=np.uint8)))
    sof = data.index(b"\xff\xc0")
    data[sof + 1] = 0xC9  # masquerade as arithmetic-coded
    with _pytest.raises(NotImplementedError, match="arithmetic|non-huffman"):
        decode_jpeg(bytes(data))


def test_image_features_real_jpeg_pixels(spark):
    from hfsa_spark.operators.jpeg import decode_jpeg
    from hfsa_spark.operators.multimodal import (
        extract_image_features,
        synthesize_jpeg_table,
    )

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id bigint")
    media = synthesize_jpeg_table(docs, width=16, height=16)
    rows = {r["doc_id"]: r for r in extract_image_features(media).collect()}
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    assert len(rows) == 6
    for i in range(6):
        arr = decode_jpeg(payloads[i])
        luma = arr.astype(np.float64) @ [0.299, 0.587, 0.114]
        assert rows[i]["width"] == 16 and rows[i]["height"] == 16
        assert rows[i]["mean_luma"] == pytest.approx(luma.mean() / 255.0, abs=1e-12)


def test_jpeg_420_subsampling_roundtrip():
    """4:2:0 exercises the decoder's MCU interleave (4 luma + Cb + Cr per
    MCU) and chroma box-upsampling; solid colors stay exact, smooth
    gradients stay within chroma-subsampling error, files shrink."""
    from hfsa_spark.operators.jpeg import decode_jpeg, encode_jpeg

    s = np.zeros((16, 16, 3), dtype=np.uint8)
    s[:, :] = (180, 90, 40)
    d = decode_jpeg(encode_jpeg(s, 90, subsampling="420"))
    assert (d == d[0, 0]).all() and tuple(d[0, 0]) == (180, 90, 40)

    x = np.linspace(0, 255, 64)
    a = np.zeros((48, 64, 3), dtype=np.uint8)
    a[:, :, 0] = np.tile(x, (48, 1))
    a[:, :, 1] = np.tile(x[::-1], (48, 1))
    a[:, :, 2] = 100
    e444, e420 = encode_jpeg(a, 90), encode_jpeg(a, 90, subsampling="420")
    assert len(e420) < len(e444)
    d420 = decode_jpeg(e420)
    assert np.abs(d420.astype(float) - a).mean() < 3.0

    rng = np.random.default_rng(4)
    b = rng.integers(0, 256, (19, 27, 3), dtype=np.uint8)  # partial MCUs
    plain = decode_jpeg(encode_jpeg(b, 90, subsampling="420"))
    with_rst = decode_jpeg(encode_jpeg(b, 90, subsampling="420", restart_interval=2))
    assert plain.shape == (19, 27, 3)
    assert np.array_equal(plain, with_rst)


def test_jpeg_progressive_decodes_identically_to_baseline():
    """Progressive (SOF2: DC/AC first + refinement scans, EOB runs,
    successive approximation) carries the SAME coefficients as baseline,
    so decode must produce IDENTICAL pixels — across shapes, qualities,
    channel counts, and sparsity (low quality = long EOB runs)."""
    from hfsa_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(6)
    cases = [
        ((16, 16, 3), 90), ((40, 56, 3), 95), ((13, 21, 1), 85),
        ((64, 64, 3), 50), ((80, 80, 3), 5),
    ]
    for shape, q in cases:
        a = rng.integers(0, 256, shape, dtype=np.uint8)
        base = decode_jpeg(encode_jpeg(a, q))
        prog = decode_jpeg(encode_jpeg(a, q, progressive=True))
        assert prog is not None and np.array_equal(base, prog), (shape, q)
    # EOB-run + deferred-correction-bit edge: empty first block, AC later
    grad = np.tile(np.linspace(0, 255, 8, dtype=np.uint8), (8, 1))
    c = np.zeros((8, 16, 1), dtype=np.uint8)
    c[:, 8:, 0] = grad
    assert np.array_equal(
        decode_jpeg(encode_jpeg(c, 90)),
        decode_jpeg(encode_jpeg(c, 90, progressive=True)),
    )


def test_jpeg_progressive_rejects_subsampled_encode():
    from hfsa_spark.operators.jpeg import encode_jpeg

    a = np.zeros((16, 16, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="4:4:4"):
        encode_jpeg(a, 90, subsampling="420", progressive=True)


def test_image_near_dup_pairs(spark):
    """Exact duplicate and 1-bit-perturbed images are found; a distinct
    image is not paired."""
    import numpy as np

    from hfsa_spark.operators.multimodal import encode_bmp, image_near_dup_pairs

    rng = np.random.RandomState(3)
    base = (rng.rand(16, 16) > 0.5).astype(np.uint8) * 255
    near = base.copy()
    near[0:2, 0:2] ^= 255  # flip ONE 2x2 block → one aHash bit
    other = (rng.rand(16, 16) > 0.5).astype(np.uint8) * 255
    rows = [
        (1, "image", bytearray(encode_bmp(base))),
        (2, "image", bytearray(encode_bmp(base))),   # exact dup of 1
        (3, "image", bytearray(encode_bmp(near))),   # hamming 1 from 1/2
        (4, "image", bytearray(encode_bmp(other))),
        (5, "audio", bytearray(b"not an image")),    # filtered JVM-side
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, media_type string, payload binary")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in image_near_dup_pairs(df, max_hamming=3).collect()}
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 1 and got[(2, 3)] == 1
    assert not any(4 in p for p in got)
