"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

Decode status (this environment ships no media libraries; everything below
is dependency-free stdlib/numpy over public file-format layouts):
* images — REAL header decode for PNG / JPEG / GIF / BMP
  (``parse_image_header``: width, height, channels, format), plus REAL
  raster decode + nearest-neighbor resize + pixel stats (mean_luma,
  average-hash) for UNCOMPRESSED BMP (``decode_bmp`` / ``encode_bmp`` /
  ``resize_nearest`` — pure numpy), 8-bit PNG incl. Adam7 interlace
  (``decode_png`` / ``encode_png`` — stdlib zlib inflate + per-scanline
  filter reversal, all five filter types, gray/gray+alpha/RGB/RGBA/
  palette), GIF incl. 4-pass interlace (``decode_gif`` / ``encode_gif``
  — full variable-width LZW codec + color-table mapping), AND baseline
  JPEG (``operators/jpeg.py`` — Huffman entropy codec, dequant + 8x8
  IDCT, restart markers, 4:2:0 subsampling, YCbCr→RGB). 8- AND 16-bit
  PNG depths decode (16-bit → high byte). Remaining stubs:
  arithmetic-coded JPEG and sub-byte PNG depths — documented
  NotImplementedError.
* audio — REAL WAV (RIFF) decode: duration, sample rate from the fmt
  chunk; RMS and clip ratio computed from the actual samples with numpy.
  Linear PCM (8/16-bit) plus COMPRESSED formats via the dependency-free
  codecs in ``operators/audio.py``: G.711 µ-law / A-law (bit-exact vs
  CPython audioop over the full 16-bit range) and IMA ADPCM (format
  0x11 block layout).
* video — REAL ISO BMFF (MP4/MOV) container probe (``parse_mp4``): movie
  duration (mvhd), video track dimensions (tkhd), and per-frame
  timestamps from the mdhd/stts sample table. REAL frame PIXEL decode
  for Motion-JPEG AVI (``encode_avi_mjpeg`` / ``parse_avi``): the RIFF
  container yields complete per-frame JPEG streams, which the
  dependency-free JPEG codec decodes — ``sample_frames`` emits real
  frame payloads and ``extract_frame_features`` real pixel stats.
  Inter-frame codecs (H.26x/VP9/AV1) remain out of scope (patented
  bitstream decoders, not container work).

Scale notes:
* media bytes dominate row size → repartition so batches stay within
  executor memory (``target_rows_per_batch`` maps to
  spark.sql.execution.arrow.maxRecordsPerBatch).
* metadata-only transformations (filtering by width/height/duration,
  sampling) must NOT deserialize payloads — they operate on the typed
  metadata columns and prune the binary column entirely (column pruning
  keeps the scan cheap).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hfsa_spark.plans import parallelize_compute

IMAGE_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, aspect_ratio double,"
    " mean_luma double, phash bigint"
)

FRAME_SAMPLE_SCHEMA = (
    "doc_id bigint, frame_idx int, frame_ts_s double, frame_payload binary"
)


# ------------------------------------------------ real header decoders --
# Public file-format layouts: PNG (RFC 2083 / ISO 15948), JPEG (ITU T.81),
# GIF87a/89a, BMP (BITMAPINFOHEADER), WAV (RIFF). Pure stdlib.

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
             0xCD, 0xCE, 0xCF}


def parse_image_header(data: bytes) -> dict | None:
    """(format, width, height, n_channels) from the image header bytes, or
    None if the payload is not a recognized image. Reads only the header —
    O(1) for PNG/GIF/BMP, O(#segments) for JPEG — never the raster."""
    if len(data) >= 24 and data[:8] == b"\x89PNG\r\n\x1a\n" and data[12:16] == b"IHDR":
        w, h = struct.unpack_from(">II", data, 16)
        color_type = data[25]
        return {"format": "png", "width": w, "height": h,
                "n_channels": _PNG_CHANNELS.get(color_type, 3)}
    if len(data) >= 4 and data[:2] == b"\xff\xd8":
        pos = 2
        while pos + 9 < len(data):
            if data[pos] != 0xFF:
                pos += 1
                continue
            marker = data[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seg_len,) = struct.unpack_from(">H", data, pos + 2)
            if marker in _JPEG_SOF:
                h, w = struct.unpack_from(">HH", data, pos + 5)
                return {"format": "jpeg", "width": w, "height": h,
                        "n_channels": data[pos + 9]}
            pos += 2 + seg_len
        return None
    if len(data) >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack_from("<HH", data, 6)
        return {"format": "gif", "width": w, "height": h, "n_channels": 3}
    if len(data) >= 26 and data[:2] == b"BM":
        w, h = struct.unpack_from("<ii", data, 18)
        bpp = struct.unpack_from("<H", data, 28)[0] if len(data) >= 30 else 24
        return {"format": "bmp", "width": w, "height": abs(h),
                "n_channels": max(1, bpp // 8)}
    return None


def parse_wav(data: bytes, return_samples: bool = False) -> dict | None:
    """RIFF/WAVE decode: fmt-chunk metadata plus the REAL samples as a
    numpy array for downstream stats. Handles linear PCM (format tag 1,
    8/16-bit), G.711 A-law (6) and µ-law (7), and IMA ADPCM (0x11) —
    compressed payloads are decoded to int16 PCM by the dependency-free
    codecs in ``operators/audio.py``. Returns None for non-WAV payloads
    or unsupported format tags. ``return_samples=True`` adds the decoded
    int16 array under ``"samples"`` (full-scale 16-bit domain) for
    sample-level operators (segmentation)."""
    import numpy as np

    from hfsa_spark.operators import audio as _audio

    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    samples = None
    tag = 1
    samples_per_block = 505
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + clen]
        if cid == b"fmt " and len(body) >= 16:
            tag, n_ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            fmt = {"n_channels": n_ch, "sample_rate": rate, "bits": bits}
            if tag == _audio.WAVE_IMA_ADPCM and len(body) >= 20:
                (samples_per_block,) = struct.unpack_from("<H", body, 18)
        elif cid == b"data" and fmt is not None:
            if tag == _audio.WAVE_MULAW:
                samples = _audio.ulaw_decode(np.frombuffer(body, dtype="u1"))
                full = 32768.0
            elif tag == _audio.WAVE_ALAW:
                samples = _audio.alaw_decode(np.frombuffer(body, dtype="u1"))
                full = 32768.0
            elif tag == _audio.WAVE_IMA_ADPCM:
                samples = _audio.adpcm_ima_decode(bytes(body), samples_per_block)
                full = 32768.0
            elif tag == _audio.WAVE_PCM and fmt["bits"] == 16:
                samples = np.frombuffer(body[: len(body) & ~1], dtype="<i2")
                full = 32768.0
            elif tag == _audio.WAVE_PCM and fmt["bits"] == 8:
                samples = np.frombuffer(body, dtype="u1").astype("int16") - 128
                full = 128.0
            else:
                return None
            n_frames = len(samples) // max(fmt["n_channels"], 1)
            out = {
                **fmt,
                "duration_s": n_frames / max(fmt["sample_rate"], 1),
                "rms": float(np.sqrt(np.mean((samples / full) ** 2)))
                if len(samples)
                else 0.0,
                "clip_ratio": float(np.mean(np.abs(samples) >= full - 1))
                if len(samples)
                else 0.0,
            }
            if return_samples:
                # normalize 8-bit PCM into the 16-bit full-scale domain
                out["samples"] = (
                    samples if full == 32768.0 else (samples.astype("int32") << 8).astype("int16")
                )
            return out
        pos += 8 + clen + (clen & 1)
    return None


def decode_bmp(data: bytes):
    """Full raster decode of an UNCOMPRESSED (BI_RGB) BMP → HxWxC uint8
    numpy array (top-down row order, channels RGB or grayscale): 24/32-bit
    truecolor plus ALL the indexed depths — 8-bit and the sub-byte 1/4-bit
    packings (MSB-first within each byte, rows padded to 4-byte
    boundaries). Returns None for non-BMP or compressed payloads. Public
    BITMAPFILEHEADER / BITMAPINFOHEADER layout; pure numpy."""
    import numpy as np

    if len(data) < 54 or data[:2] != b"BM":
        return None
    (pix_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:  # BITMAPCOREHEADER etc. — not worth supporting
        return None
    w, h = struct.unpack_from("<ii", data, 18)
    bpp, compression = struct.unpack_from("<HI", data, 28)
    if compression != 0 or bpp not in (1, 4, 8, 24, 32) or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    row_bytes = ((w * bpp + 31) // 32) * 4  # rows pad to 4-byte boundary
    need = pix_off + row_bytes * h
    if len(data) < need:
        return None
    raster = np.frombuffer(data, dtype=np.uint8, count=row_bytes * h, offset=pix_off)
    raster = raster.reshape(h, row_bytes)
    if bpp <= 8:
        # indexed pixels are INDICES into the mandatory RGBQUAD palette
        # that follows BITMAPINFOHEADER — treating them as literal luma is
        # only right for the identity grayscale ramp. Unpack sub-byte
        # packings (MSB-first), map through the palette; collapse back to
        # 1 channel when the palette is pure grayscale.
        if bpp == 8:
            idx = raster[:, :w]
        elif bpp == 4:
            nibbles = np.stack([raster >> 4, raster & 0x0F], axis=2).reshape(h, -1)
            idx = nibbles[:, :w]
        else:  # 1-bit
            bits = np.unpackbits(raster, axis=1)
            idx = bits[:, :w]
        (clr_used,) = struct.unpack_from("<I", data, 46)
        n_colors = clr_used or (1 << bpp)
        pal_off = 14 + hdr_size
        if pal_off + 4 * n_colors > len(data):
            return None
        quads = np.frombuffer(
            data, dtype=np.uint8, count=4 * n_colors, offset=pal_off
        ).reshape(n_colors, 4)
        palette = quads[:, 2::-1]  # BGRX -> RGB
        if idx.max(initial=0) >= n_colors:
            return None
        mapped = palette[idx]
        if (palette[:, 0] == palette[:, 1]).all() and (
            palette[:, 1] == palette[:, 2]
        ).all():
            arr = mapped[:, :, :1]
        else:
            arr = mapped
    else:
        arr = raster[:, : w * (bpp // 8)].reshape(h, w, bpp // 8)[:, :, 2::-1]
    if not top_down:
        arr = arr[::-1]
    return np.ascontiguousarray(arr)


def encode_bmp(arr) -> bytes:
    """HxWx{1,3} uint8 array → 24-bit uncompressed BMP bytes (the inverse
    of :func:`decode_bmp`; decode(encode(a)) round-trips exactly)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    if c == 1:
        a = np.repeat(a, 3, axis=2)
    bgr = a[:, :, 2::-1][::-1]  # RGB -> BGR, bottom-up rows
    row_bytes = (w * 3 + 3) & ~3
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    pix = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
    )
    return header + pix


def _paeth_predict(a, b, c):
    """Vectorized Paeth predictor (PNG spec §6.6): nearest of left/up/
    up-left to the linear estimate a + b - c, ties left-first."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_filter_rows(flat, bpp: int, filter_type) -> bytes:
    """Forward-filter the rows of one (sub-)image (h×(w·bpp) int array) —
    fully vectorized (each filter reads ORIGINAL neighbor bytes, so no
    scan dependency)."""
    import numpy as np

    h = flat.shape[0]
    lines = []
    for y in range(h):
        f = (y % 5) if filter_type == "mixed" else int(filter_type)
        cur = flat[y]
        left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
        up = flat[y - 1] if y else np.zeros_like(cur)
        upleft = (
            np.concatenate([np.zeros(bpp, np.int32), up[:-bpp]])
            if y
            else np.zeros_like(cur)
        )
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - up
        elif f == 3:
            enc = cur - ((left + up) >> 1)
        else:
            enc = cur - _paeth_predict(left, up, upleft)
        lines.append(bytes([f]) + (enc & 0xFF).astype(np.uint8).tobytes())
    return b"".join(lines)


def encode_png(arr, filter_type: int | str = 0, interlace: bool = False) -> bytes:
    """HxWx{1,2,3,4} uint8 array → 8-bit PNG, stdlib-only (zlib + the
    public PNG spec / RFC 2083). ``filter_type`` selects the per-scanline
    filter: 0..4, or ``"mixed"`` to cycle 0,1,2,3,4 by row — the
    round-trip partner that makes :func:`decode_png`'s filter reversal
    testable on every filter class. ``interlace=True`` writes the Adam7
    pass sequence (each pass independently filtered), exercising the
    decoder's deinterlace path. A uint16 input array writes a 16-bit-
    depth PNG (big-endian samples)."""
    import numpy as np

    a = np.asarray(arr)
    depth = 16 if a.dtype == np.uint16 else 8
    a = a.astype(np.uint16 if depth == 16 else np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    bpp = c * (depth // 8)

    def row_bytes(sub):
        # filters run on the BYTE stream: 16-bit samples go big-endian
        ph, pw = sub.shape[0], sub.shape[1]
        if depth == 16:
            flat = sub.astype(">u2").view(np.uint8).reshape(ph, pw * c * 2)
        else:
            flat = sub.reshape(ph, pw * c)
        return flat.astype(np.int32)

    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = a[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            parts.append(_png_filter_rows(row_bytes(sub), bpp, filter_type))
        raw = b"".join(parts)
    else:
        raw = _png_filter_rows(row_bytes(a), bpp, filter_type)

    def chunk(t: bytes, d: bytes) -> bytes:
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, int(interlace))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unfilter(raw: bytes, pos: int, w: int, h: int, bpp: int):
    """Reverse per-scanline PNG filters for one (sub-)image of w×h pixels
    starting at ``pos`` in the inflated stream. Returns (h×(w·bpp) uint8
    array, next pos) or None on truncation/bad filter byte."""
    import numpy as np

    stride = w * bpp
    if len(raw) - pos < h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f = raw[pos]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=pos + 1
        ).astype(np.int64)
        pos += 1 + stride
        if f == 0:
            cur = line
        elif f == 1:
            # Sub is a per-channel-lane running sum — cumsum, then mod 256
            cur = line.reshape(w, bpp).cumsum(axis=0).reshape(stride) & 0xFF
        elif f == 2:
            cur = (line + prev) & 0xFF
        elif f == 3:
            cur = line.copy()
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:
            cur = line.copy()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                c = prev[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + _paeth_predict(a, prev[x], c)) & 0xFF
        else:
            return None
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out, pos


def decode_png(data: bytes):
    """Full raster decode of an 8- or 16-bit PNG → HxWxC uint8 (16-bit
    samples downscale to their high byte): IDAT inflate (stdlib zlib) +
    per-scanline filter reversal for all five filter types, gray /
    gray+alpha / RGB / RGBA / palette color types, BOTH non-interlaced
    and Adam7-interlaced layouts — dependency-free, public PNG spec
    (RFC 2083). Returns None for non-PNG or malformed payloads; raises
    NotImplementedError for sub-byte depths (1/2/4-bit)."""
    import numpy as np

    if len(data) < 8 or data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        if pos + 12 + ln > len(data):
            return None
        body = data[pos + 8 : pos + 8 + ln]
        if ctype == b"IHDR":
            if ln != 13:
                return None
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        return None
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0 or interlace not in (0, 1) or not (
        0 < w < 1 << 24 and 0 < h < 1 << 24
    ):
        return None
    if depth not in (8, 16):
        raise NotImplementedError(
            f"PNG bit depth {depth} decode not implemented (8/16-bit only)"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None or (depth == 16 and color_type == 3):
        return None  # 16-bit palette is illegal per spec
    bpp = channels * (depth // 8)  # filters operate on BYTES per pixel

    def to_px(flat, hh, ww):
        # 16-bit samples are big-endian; downscale to 8-bit = high byte
        if depth == 16:
            return flat.reshape(hh, ww * channels, 2)[:, :, 0].reshape(
                hh, ww, channels
            )
        return flat.reshape(hh, ww, channels)

    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    if interlace == 0:
        out = _png_unfilter(raw, 0, w, h, bpp)
        if out is None:
            return None
        arr = to_px(out[0], h, w)
    else:  # Adam7: 7 sub-images, each independently filtered, scattered
        arr = np.zeros((h, w, channels), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw, ph = (w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            out = _png_unfilter(raw, pos, pw, ph, bpp)
            if out is None:
                return None
            sub, pos = out
            arr[y0::dy, x0::dx] = to_px(sub, ph, pw)
    if color_type == 3:
        if plte is None or len(plte) % 3:
            return None
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if arr.max(initial=0) >= len(pal):
            return None
        arr = pal[arr[:, :, 0]]
    return np.ascontiguousarray(arr)


def _lzw_decode(data: bytes, min_code_size: int) -> list[int] | None:
    """GIF-variant LZW decompress (variable code width 3..12 bits, LSB-
    first bit packing, clear/end codes, deferred-clear tolerant). Returns
    the index stream or None on corrupt input. Public GIF89a spec App. F."""
    clear = 1 << min_code_size
    end = clear + 1

    def fresh() -> list[list[int] | None]:
        return [[i] for i in range(clear)] + [None, None]

    table = fresh()
    code_size = min_code_size + 1
    out: list[int] = []
    prev: list[int] | None = None
    bitpos, nbits = 0, len(data) * 8
    while True:
        if bitpos + code_size > nbits:
            break  # missing end code: tolerate (common in the wild)
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == end:
            break
        if code == clear:
            table, code_size, prev = fresh(), min_code_size + 1, None
            continue
        if prev is None:
            if code >= clear:
                return None
            entry = table[code]
        elif code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table):
            entry = prev + [prev[0]]  # the KwKwK case
        else:
            return None
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + [entry[0]])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    return out


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-variant LZW compress — the round-trip partner of
    :func:`_lzw_decode` (same width-growth schedule, table reset at
    4096)."""
    clear = 1 << min_code_size
    end = clear + 1
    bits: list[tuple[int, int]] = []  # (code, width at emission)
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    code_size = min_code_size + 1
    next_code = end + 1
    bits.append((clear, code_size))
    seq: tuple[int, ...] = ()
    for p in indices:
        p = int(p)
        cand = seq + (p,)
        if cand in table:
            seq = cand
            continue
        bits.append((table[seq], code_size))
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # one step AFTER the decoder's len==2^w bump: the decoder's
            # table lags one append, so widths stay in lock-step when the
            # encoder bumps at next_code == 2^w + 1 (emittable max = 2^w)
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:
            bits.append((clear, code_size))
            table = {(i,): i for i in range(clear)}
            code_size = min_code_size + 1
            next_code = end + 1
        seq = (p,)
    if seq:
        bits.append((table[seq], code_size))
    bits.append((end, code_size))
    acc = val = 0
    outb = bytearray()
    for code, width in bits:
        val |= code << acc
        acc += width
        while acc >= 8:
            outb.append(val & 0xFF)
            val >>= 8
            acc -= 8
    if acc:
        outb.append(val & 0xFF)
    return bytes(outb)


def _gif_row_order(h: int) -> list[int]:
    """GIF 4-pass interlace row sequence: rows 0,8,16.. then 4,12,.. then
    2,6,.. then 1,3,5,.. (GIF89a spec appendix E)."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def decode_gif(data: bytes):
    """Full raster decode of the FIRST frame of a GIF87a/GIF89a → HxWx3
    uint8: LZW decompress (:func:`_lzw_decode`) + color table mapping,
    both sequential and 4-pass interlaced row layouts — dependency-free,
    public GIF89a spec. Extensions (incl. GCE transparency, which is
    ignored — the palette color is returned) are skipped; malformed
    payloads return None."""
    import numpy as np

    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    packed = data[10]
    pos, gct = 13, None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if pos + 3 * n > len(data):
            return None
        gct = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension: label + length-prefixed sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(data):
                return None
            _, _, iw, ih = struct.unpack_from("<HHHH", data, pos + 1)
            ipacked = data[pos + 9]
            pos += 10
            pal = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 7)
                if pos + 3 * n > len(data):
                    return None
                pal = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
                pos += 3 * n
            if pal is None or pos >= len(data) or iw == 0 or ih == 0:
                return None
            min_code = data[pos]
            pos += 1
            if not 2 <= min_code <= 11:
                return None
            chunks = []
            while pos < len(data) and data[pos] != 0:
                ln = data[pos]
                chunks.append(data[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            idx = _lzw_decode(b"".join(chunks), min_code)
            if idx is None or len(idx) < iw * ih:
                return None
            arr = np.asarray(idx[: iw * ih], dtype=np.int64).reshape(ih, iw)
            if ipacked & 0x40:  # interlaced: rows stored in 4-pass order
                order = np.asarray(_gif_row_order(ih))
                out_rows = np.empty_like(arr)
                out_rows[order] = arr
                arr = out_rows
            if arr.max(initial=0) >= len(pal):
                return None
            return np.ascontiguousarray(pal[arr])
        elif b == 0x3B:
            break
        else:
            return None
    return None


def encode_gif(indices, palette, interlace: bool = False) -> bytes:
    """(HxW index array, [(r,g,b), ...]) → single-frame GIF89a bytes — the
    round-trip partner of :func:`decode_gif` (global color table padded to
    a power of two, LZW-compressed data sub-blocks; ``interlace=True``
    stores rows in the 4-pass order and sets the descriptor flag)."""
    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    if interlace:
        idx = idx[np.asarray(_gif_row_order(h))]
    bits = max(2, (len(palette) - 1).bit_length())
    n = 1 << bits
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((r, g, b))
    pal += bytes(3 * (n - len(palette)))
    lzw = _lzw_encode(idx.ravel(), bits)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) & 7), 0, 0)
        + bytes(pal)
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
        + bytes([bits])
        + bytes(blocks)
        + b"\x3b"
    )


def decode_raster(data: bytes):
    """Dependency-free raster decode: uncompressed BMP, 8-bit PNG
    (incl. Adam7 interlaced), GIF (incl. 4-pass interlaced, first frame),
    or baseline JPEG → HxWxC uint8. None if no supported layout matches;
    may raise NotImplementedError for the remaining variants (sub-byte
    PNG depths, progressive/arithmetic JPEG)."""
    from hfsa_spark.operators.jpeg import decode_jpeg

    arr = decode_bmp(data)
    if arr is None:
        arr = decode_png(data)
    if arr is None:
        arr = decode_gif(data)
    if arr is None:
        arr = decode_jpeg(data)
    return arr


def resize_nearest(arr, target_width: int, target_height: int):
    """Nearest-neighbor resample (pixel-center mapping, the standard
    src = floor((dst + 0.5) * scale) rule) — pure numpy fancy indexing."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    ys = np.minimum(((np.arange(target_height) + 0.5) * h / target_height).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(target_width) + 0.5) * w / target_width).astype(np.int64), w - 1)
    return arr[ys][:, xs]


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for ISO BMFF boxes in [start, end)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        btype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                return
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            body = pos + 16
        elif size == 0:  # to end of file
            size = end - pos
        if size < 8 or pos + size > end:
            return
        yield btype, body, pos + size
        pos += size


def _mp4_find(data: bytes, start: int, end: int, path: list[bytes]):
    """Descend a box path (e.g. [b'moov', b'trak']) yielding matching body
    ranges; intermediate containers are plain (headerless) box lists."""
    if not path:
        yield start, end
        return
    for btype, b0, b1 in _mp4_boxes(data, start, end):
        if btype == path[0]:
            yield from _mp4_find(data, b0, b1, path[1:])


def parse_mp4(data: bytes) -> dict | None:
    """ISO BMFF (MP4/MOV) container probe — public ISO/IEC 14496-12 layout,
    no codec dependency. Returns movie duration (``mvhd``), the first video
    track's pixel dimensions (``tkhd`` 16.16 fixed point), and REAL
    per-sample timestamps derived from the sample table (``mdhd`` media
    timescale + ``stts`` time-to-sample deltas). None for non-BMFF
    payloads. Frame PIXEL decode stays out of scope (needs a codec)."""
    if len(data) < 16:
        return None
    types = {t for t, _, _ in _mp4_boxes(data, 0, len(data))}
    if not types or not ({b"ftyp", b"moov", b"mdat"} & types):
        return None
    out: dict = {"format": "mp4", "duration_s": None, "width": None,
                 "height": None, "n_samples": 0, "sample_ts_s": []}
    for m0, m1 in _mp4_find(data, 0, len(data), [b"moov"]):
        for btype, b0, b1 in _mp4_boxes(data, m0, m1):
            if btype == b"mvhd" and b1 - b0 >= 20:
                version = data[b0]
                # v1 has 8-byte times: timescale at +20, duration (u64) at
                # +24 — needs 32 body bytes; the v0 layout only needs 20.
                # A truncated v1 box is rejected, not read past its end.
                if version == 1:
                    if b1 - b0 < 32:
                        continue
                    timescale, duration = struct.unpack_from(">IQ", data, b0 + 20)
                else:
                    timescale, duration = struct.unpack_from(">II", data, b0 + 12)
                if timescale:
                    out["duration_s"] = duration / timescale
        for t0, t1 in _mp4_find(data, m0, m1, [b"trak"]):
            width = height = None
            for btype, b0, b1 in _mp4_boxes(data, t0, t1):
                if btype == b"tkhd" and b1 - b0 >= 84:
                    version = data[b0]
                    off = b0 + (88 if version == 1 else 76)
                    if off + 8 <= b1:
                        w_fx, h_fx = struct.unpack_from(">II", data, off)
                        width, height = w_fx >> 16, h_fx >> 16
            if not (width and height):
                continue  # non-video track (audio tkhd has 0x0 dims)
            if out["width"] is None:
                out["width"], out["height"] = width, height
            timescale = None
            for b0, b1 in _mp4_find(data, t0, t1, [b"mdia"]):
                for btype, c0, c1 in _mp4_boxes(data, b0, b1):
                    if btype == b"mdhd" and c1 - c0 >= 16:
                        version = data[c0]
                        off = 20 if version == 1 else 12
                        if c1 - c0 < off + 4:  # v1 timescale sits at +20
                            continue
                        (timescale,) = struct.unpack_from(">I", data, c0 + off)
            for s0, s1 in _mp4_find(data, t0, t1, [b"mdia", b"minf", b"stbl", b"stts"]):
                (n_entries,) = struct.unpack_from(">I", data, s0 + 4)
                ts, t_acc = [], 0
                pos = s0 + 8
                for _ in range(n_entries):
                    if pos + 8 > s1:
                        break
                    count, delta = struct.unpack_from(">II", data, pos)
                    for _ in range(count):
                        ts.append(t_acc / timescale if timescale else float(t_acc))
                        t_acc += delta
                    pos += 8
                if ts and not out["sample_ts_s"]:
                    out["sample_ts_s"] = ts
                    out["n_samples"] = len(ts)
    return out


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for a real image decode: derives pseudo pixel
    stats from a digest of the payload. Keeps plumbing testable without
    media libraries."""
    d = hashlib.sha256(payload or b"").digest()
    return {
        "width": 16 + d[0] % 64,
        "height": 16 + d[1] % 64,
        "mean_luma": d[2] / 255.0,
        "phash": int.from_bytes(d[3:11], "big", signed=True),
    }


def _real_decode(payload: bytes) -> dict:
    """Header decode for any recognized format; full pixel stats
    (mean_luma + 64-bit average-hash) when the raster is decodable
    (uncompressed BMP, non-interlaced 8-bit PNG, non-interlaced GIF,
    baseline JPEG)."""
    import numpy as np

    feats = parse_image_header(payload) or {}
    if feats.get("format") in ("bmp", "png", "gif", "jpeg"):
        try:
            arr = decode_raster(payload)
        except NotImplementedError:
            arr = None  # interlaced/16-bit PNG: stats stay null, row kept
        if arr is not None:
            luma = (
                # alpha (channel 4 / gray+alpha's 2nd) never enters luma
                arr[:, :, :3].astype(np.float64) @ [0.299, 0.587, 0.114]
                if arr.shape[2] >= 3
                else arr[:, :, 0].astype(np.float64)
            )
            feats["mean_luma"] = float(luma.mean()) / 255.0
            # aHash: 8x8 nearest-neighbor thumbnail, 1 bit per cell vs mean
            thumb = resize_nearest(luma, 8, 8)
            bits = (thumb > thumb.mean()).flatten()
            val = 0
            for b in bits:
                val = (val << 1) | int(b)
            feats["phash"] = val - (1 << 64) if val >= 1 << 63 else val
    return feats


def decode_image_batch(batch: pd.DataFrame, fake: bool = False) -> pd.DataFrame:
    """Real path: header decode (PNG/JPEG/GIF/BMP) — width/height/aspect
    from actual bytes; pixel stats (mean_luma, phash) are REAL for every
    supported raster layout (uncompressed BMP, non-interlaced 8-bit PNG,
    non-interlaced GIF, baseline JPEG — full raster decode) and null for
    the documented unsupported variants (progressive JPEG, interlaced
    PNG/GIF, 16-bit PNG). Unrecognized payloads yield null dimensions
    rather than dropping the row, so the output stays 1:1 with input and
    the caller can audit decode coverage. ``fake=True`` keeps the
    deterministic plumbing decoder that always fills the pixel stats."""
    if fake:
        feats = batch["payload"].map(
            lambda p: _fake_decode(bytes(p) if p is not None else b"")
        )
    else:
        feats = batch["payload"].map(
            lambda p: _real_decode(bytes(p) if p is not None else b"")
        )
    out = pd.DataFrame(
        {
            "doc_id": batch["doc_id"],
            "width": pd.array([f.get("width") for f in feats], dtype="Int32"),
            "height": pd.array([f.get("height") for f in feats], dtype="Int32"),
        }
    )
    out["aspect_ratio"] = out["width"].astype("Float64") / out["height"].astype(
        "Float64"
    )
    out["mean_luma"] = pd.array([f.get("mean_luma") for f in feats], dtype="Float64")
    out["phash"] = pd.array([f.get("phash") for f in feats], dtype="Int64")
    return out


def _maybe_parallel(df: DataFrame, min_partitions: int | None) -> DataFrame:
    """Pre-mapInPandas repartition, OPT-IN: a real (CPU-heavy) decoder on a
    few-split input should pass min_partitions to fan out; the default adds
    no shuffle because (a) at corpus scale inputs are already multi-split
    and (b) for light/stub decoders the shuffle + per-partition Python
    worker dispatch costs more than it saves (measured 1.1 s vs 0.3 s on a
    200-row batch)."""
    if min_partitions:
        return parallelize_compute(df, min_partitions)
    return df


def extract_image_features(
    media: DataFrame, fake: bool = False, min_partitions: int | None = None
) -> DataFrame:
    """media(doc_id, media_type, payload, ...) → image feature rows.

    Non-image rows are filtered BEFORE the Python stage (predicate stays
    JVM-side); only image payloads cross the Arrow boundary.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if len(batch):
                yield decode_image_batch(batch, fake=fake)

    return (
        _maybe_parallel(
            media.filter(F.col("media_type") == "image").select("doc_id", "payload"),
            min_partitions,
        )
        .mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)
    )


def sample_frames(
    media: DataFrame, every_n: int = 10, fake: bool = False, min_partitions: int | None = None
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame index.

    Real path: ISO BMFF (MP4) container probe (:func:`parse_mp4`) — frame
    indices and REAL timestamps from the mdhd/stts sample table; the pixel
    payload stays null (raster decode needs a codec library; the container
    layout is public). Non-BMFF payloads raise NotImplementedError naming
    the limitation. ``fake=True`` keeps the digest-derived plumbing decoder
    (payload-length frame counts, synthetic frame bytes).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for _, r in batch.iterrows():
                payload = bytes(r["payload"]) if r["payload"] is not None else b""
                if fake:
                    n_frames = 1 + (len(payload) % 50)
                    for idx in range(0, n_frames, every_n):
                        digest = hashlib.sha256(payload + idx.to_bytes(4, "big")).digest()
                        rows.append((r["doc_id"], idx, float(idx), digest))
                    continue
                avi = parse_avi(payload)
                if avi is not None:
                    # MJPEG AVI: every sampled frame carries its REAL
                    # payload (a complete JPEG — decodable downstream by
                    # extract_frame_features)
                    fps = avi["fps"] or 1.0
                    for idx in range(0, avi["n_frames"], every_n):
                        rows.append(
                            (r["doc_id"], idx, idx / fps, avi["frames"][idx])
                        )
                    continue
                probe = parse_mp4(payload)
                if probe is None:
                    raise NotImplementedError(
                        "real frame sampling covers RIFF AVI and ISO BMFF"
                        " (MP4/MOV) containers only — pass fake=True for the"
                        " plumbing decoder"
                    )
                ts = probe["sample_ts_s"]
                for idx in range(0, len(ts), every_n):
                    rows.append((r["doc_id"], idx, ts[idx], None))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "frame_idx", "frame_ts_s", "frame_payload"]
                )

    return (
        _maybe_parallel(
            media.filter(F.col("media_type") == "video").select("doc_id", "payload"),
            min_partitions,
        )
        .mapInPandas(run, schema=FRAME_SAMPLE_SCHEMA)
    )


AUDIO_FEATURES_SCHEMA = (
    "doc_id bigint, duration_s double, sample_rate int, rms double, clip_ratio double"
)


def extract_audio_features(
    media: DataFrame, fake: bool = False, min_partitions: int | None = None
) -> DataFrame:
    """Audio feature extraction → (doc_id, duration_s, sample_rate, rms,
    clip_ratio). Real path: full WAV (RIFF PCM) decode — metadata from the
    fmt chunk, RMS / clip ratio from the actual samples (``parse_wav``);
    non-WAV payloads get null features. ``fake=True`` keeps the digest-
    derived plumbing decoder for synthetic corpora."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            rows = []
            for _, r in batch.iterrows():
                payload = bytes(r["payload"]) if r["payload"] is not None else b""
                if fake:
                    d = hashlib.sha256(payload).digest()
                    rows.append(
                        (
                            r["doc_id"],
                            0.1 + (len(payload) % 3000) / 100.0,
                            [16000, 22050, 44100, 48000][d[0] % 4],
                            d[1] / 255.0,
                            (d[2] % 32) / 255.0,
                        )
                    )
                else:
                    w = parse_wav(payload)
                    rows.append(
                        (
                            r["doc_id"],
                            w["duration_s"] if w else None,
                            w["sample_rate"] if w else None,
                            w["rms"] if w else None,
                            w["clip_ratio"] if w else None,
                        )
                    )
            out = pd.DataFrame(
                rows,
                columns=["doc_id", "duration_s", "sample_rate", "rms", "clip_ratio"],
            )
            out["sample_rate"] = pd.array(out["sample_rate"], dtype="Int32")
            yield out

    return (
        _maybe_parallel(
            media.filter(F.col("media_type") == "audio").select("doc_id", "payload"),
            min_partitions,
        )
        .mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)
    )


def build_mp4_skeleton(
    timescale: int = 1000,
    duration: int = 4000,
    width: int = 640,
    height: int = 360,
    media_timescale: int = 30,
    stts: tuple = ((90, 1),),
) -> bytes:
    """Minimal valid ISO BMFF file: ftyp + moov(mvhd, trak(tkhd,
    mdia(mdhd, minf(stbl(stts))))) + mdat. Public ISO/IEC 14496-12 box
    layout; the exact inverse surface of :func:`parse_mp4`. Used to
    synthesize video corpora for tests and gate queries."""

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    mvhd = bytes(4) + struct.pack(">III", 0, 0, timescale) + struct.pack(
        ">I", duration
    ) + bytes(80)
    tkhd = bytes(4) + bytes(72) + struct.pack(">II", width << 16, height << 16)
    mdhd = bytes(4) + struct.pack(">III", 0, 0, media_timescale) + bytes(8)
    stts_body = bytes(4) + struct.pack(">I", len(stts)) + b"".join(
        struct.pack(">II", c, d) for c, d in stts
    )
    mdia = box(b"mdhd", mdhd) + box(b"minf", box(b"stbl", box(b"stts", stts_body)))
    moov = box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", tkhd) + box(b"mdia", mdia))
    return (
        box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        + box(b"moov", moov)
        + box(b"mdat", b"\x00" * 16)
    )


def synthesize_bmp_table(
    documents: DataFrame, width: int = 16, height: int = 16, max_docs: int | None = None
) -> DataFrame:
    """Media table of REAL solid-color BMP payloads, color a pure function
    of doc_id (r,g,b = 3·id, 5·id, 7·id mod 256) — every pixel-level
    feature downstream has a closed form an external oracle can verify.
    Payload bytes are built executor-side (Arrow mapInPandas)."""
    import numpy as np

    docs = documents.select("doc_id")
    if max_docs is not None:
        docs = docs.filter(F.col("doc_id") < max_docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            payloads = [
                encode_bmp(
                    np.full(
                        (height, width, 3),
                        [(3 * i) % 256, (5 * i) % 256, (7 * i) % 256],
                        dtype=np.uint8,
                    )
                )
                for i in batch["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": "image",
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, media_type string, payload binary")


def synthesize_png_table(
    documents: DataFrame, width: int = 16, height: int = 16, max_docs: int | None = None
) -> DataFrame:
    """Media table of REAL PNG payloads: a doc_id-derived gradient raster
    (every channel v = (7·id mod 200) + x + y, alpha 255 — no wraparound
    since 199 + 30 < 256), encoded RGBA with per-row MIXED filters (0..4
    cycling) so downstream decodes exercise the full filter-reversal path.
    The mean-luma closed form stays oracle-checkable: the gradient mean is
    exactly base + ((width-1) + (height-1)) / 2. Payload bytes are built
    executor-side (Arrow mapInPandas)."""
    import numpy as np

    docs = documents.select("doc_id")
    if max_docs is not None:
        docs = docs.filter(F.col("doc_id") < max_docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ys, xs = np.mgrid[0:height, 0:width]
        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            for i in batch["doc_id"]:
                v = ((7 * int(i)) % 200 + xs + ys).astype(np.uint8)
                rgba = np.dstack([v, v, v, np.full_like(v, 255)])
                payloads.append(encode_png(rgba, filter_type="mixed"))
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": "image",
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, media_type string, payload binary")


def synthesize_gif_table(
    documents: DataFrame, width: int = 16, height: int = 16, max_docs: int | None = None
) -> DataFrame:
    """Media table of REAL GIF payloads: doc_id-derived gradient index
    raster (index = (11·id mod 200) + x + y, no wraparound) over the
    identity grayscale-ramp palette, LZW-compressed for real — downstream
    decodes exercise the full variable-width LZW path. Mean-luma closed
    form: base + ((width-1) + (height-1)) / 2, exactly as the PNG twin."""
    import numpy as np

    docs = documents.select("doc_id")
    if max_docs is not None:
        docs = docs.filter(F.col("doc_id") < max_docs)
    ramp = [(i, i, i) for i in range(256)]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grad = np.add.outer(np.arange(height), np.arange(width))
        for batch in batches:
            if not len(batch):
                continue
            payloads = [
                encode_gif(((11 * int(i)) % 200 + grad).astype(np.uint8), ramp)
                for i in batch["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": "image",
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, media_type string, payload binary")


def synthesize_jpeg_table(
    documents: DataFrame,
    width: int = 16,
    height: int = 16,
    max_docs: int | None = None,
    progressive: bool = False,
) -> DataFrame:
    """Media table of REAL JPEG payloads: solid-color rasters (r,g,b =
    5·id, 7·id, 11·id mod 256) Huffman-encoded for real at quality 90 —
    solid 8x8-aligned blocks decode to a CLOSED FORM (DC-only
    quantization, banker's rounding) an external oracle can replicate.
    ``progressive=True`` writes SOF2 multi-scan streams carrying the SAME
    coefficients (identical decoded pixels, different transmission
    order), so the one closed form gates both decode paths."""
    import numpy as np

    from hfsa_spark.operators.jpeg import encode_jpeg

    docs = documents.select("doc_id")
    if max_docs is not None:
        docs = docs.filter(F.col("doc_id") < max_docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            payloads = [
                encode_jpeg(
                    np.full(
                        (height, width, 3),
                        [(5 * i) % 256, (7 * i) % 256, (11 * i) % 256],
                        dtype=np.uint8,
                    ),
                    quality=90,
                    progressive=progressive,
                )
                for i in batch["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": "image",
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, media_type string, payload binary")


def synthesize_video_table(documents: DataFrame, max_docs: int | None = None) -> DataFrame:
    """Media table of REAL MP4 skeleton payloads with doc_id-derived
    parameters (timescale ∈ divisors of 1e6 so frame timestamps are exact
    µs; sample count / delta / dimensions pure functions of doc_id)."""
    timescales = [10, 20, 25, 40, 50]  # all divide 1e6 → exact-µs frame ts

    docs = documents.select("doc_id")
    if max_docs is not None:
        docs = docs.filter(F.col("doc_id") < max_docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            for i in batch["doc_id"]:
                ts = timescales[i % 5]
                payloads.append(
                    build_mp4_skeleton(
                        timescale=1000,
                        duration=1000 * (1 + i % 7),
                        width=int(64 * (1 + i % 4)),
                        height=int(48 * (1 + i % 3)),
                        media_timescale=ts,
                        stts=((30 + i % 60, 1 + i % 3),),
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": "video",
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, media_type string, payload binary")


def synthesize_media_table(documents: DataFrame, media_type: str = "image") -> DataFrame:
    """Build a media table from the documents fixture: payload = text bytes
    (opaque, deterministic), metadata typed. Lets every multimodal operator
    be exercised against driver testdata."""
    return documents.select(
        F.col("doc_id"),
        F.lit(media_type).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(3).alias("n_channels"),
        F.lit("fake").alias("format"),
    )


# ----------------------------------------------------------- AVI/MJPEG --
# RIFF AVI container (public Microsoft "AVI RIFF File Reference" layout)
# carrying Motion-JPEG: every frame is a complete baseline JPEG stream,
# so the dependency-free JPEG codec (operators/jpeg.py) decodes REAL
# video frame pixels — the last multimodal family to go real.

FRAME_FEATURES_SCHEMA = (
    "doc_id bigint, frame_idx int, frame_ts_s double,"
    " width int, height int, mean_luma double, phash bigint"
)


def _riff_chunk(ckid: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""
    return ckid + struct.pack("<I", len(payload)) + payload + pad


def _riff_list(subtype: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", subtype + payload)


def encode_avi_mjpeg(frames, fps: int = 25, quality: int = 90) -> bytes:
    """Encode HxWx3 uint8 rasters as a Motion-JPEG AVI: RIFF('AVI ')
    { LIST hdrl [avih, LIST strl [strh 'vids'/'MJPG', strf BITMAPINFO]],
    LIST movi ['00dc' <jpeg>...], idx1 } — each frame Huffman-encoded for
    real by :func:`hfsa_spark.operators.jpeg.encode_jpeg`."""
    from hfsa_spark.operators.jpeg import encode_jpeg

    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[0], frames[0].shape[1]
    jpegs = [encode_jpeg(f, quality=quality) for f in frames]

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        0, 0,
        0x10,  # AVIF_HASINDEX
        len(frames), 0, 1, max(len(j) for j in jpegs),
        w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IIIIIIIIii", 0, 0, 0, 1, fps, 0, len(frames),
                      max(len(j) for j in jpegs), quality * 100, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi_chunks, idx_entries, off = [], [], 4  # offset counts from 'movi' fourcc
    for j in jpegs:
        ck = _riff_chunk(b"00dc", j)
        movi_chunks.append(ck)
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(j)))
        off += len(ck)
    movi = _riff_list(b"movi", b"".join(movi_chunks))
    idx1 = _riff_chunk(b"idx1", b"".join(idx_entries))
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def _avi_chunks(data: bytes, start: int, end: int):
    """Yield (ckid, body_start, body_end) for RIFF chunks in [start, end)."""
    pos = start
    while pos + 8 <= end:
        ckid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            return
        yield ckid, body, body + size
        pos = body + size + (size % 2)  # chunks are word-aligned


def parse_avi(data: bytes) -> dict | None:
    """RIFF AVI container probe + frame extraction. Returns dimensions and
    fps from the headers and the RAW per-frame payloads from the movi
    list (for MJPG streams each payload is a complete JPEG). None for
    non-AVI payloads; the idx1 index is ignored (movi order is
    authoritative for a single video stream)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        return None
    out: dict = {"format": "avi", "width": None, "height": None, "fps": None,
                 "codec": None, "n_frames": 0, "frames": []}
    vid_stream = None  # stream number of the first vids stream
    stream_no = 0
    for ckid, b0, b1 in _avi_chunks(data, 12, len(data)):
        if ckid != b"LIST":
            continue
        subtype = data[b0 : b0 + 4]
        if subtype == b"hdrl":
            for c2, s0, s1 in _avi_chunks(data, b0 + 4, b1):
                if c2 == b"avih" and s1 - s0 >= 40:
                    vals = struct.unpack_from("<10I", data, s0)
                    if vals[0]:
                        out["fps"] = 1_000_000 / vals[0]
                    out["width"], out["height"] = vals[8], vals[9]
                elif c2 == b"LIST" and data[s0 : s0 + 4] == b"strl":
                    for c3, t0, t1 in _avi_chunks(data, s0 + 4, s1):
                        if c3 == b"strh" and t1 - t0 >= 48:
                            fcc_type = data[t0 : t0 + 4]
                            if fcc_type == b"vids" and vid_stream is None:
                                vid_stream = stream_no
                                out["codec"] = (
                                    data[t0 + 4 : t0 + 8].decode("ascii", "replace").strip()
                                )
                                scale, rate = struct.unpack_from("<II", data, t0 + 20)
                                if scale and rate:
                                    out["fps"] = rate / scale
                    stream_no += 1
        elif subtype == b"movi":
            want = f"{vid_stream or 0:02d}".encode()  # stream prefix, e.g. b'00'
            for c2, s0, s1 in _avi_chunks(data, b0 + 4, b1):
                if c2[:2] == want and c2[2:] in (b"dc", b"db"):
                    out["frames"].append(data[s0:s1])
    out["n_frames"] = len(out["frames"])
    return out


def synthesize_avi_table(
    documents: DataFrame,
    width: int = 16,
    height: int = 16,
    n_frames: int = 6,
    max_docs: int | None = None,
) -> DataFrame:
    """Media table of REAL Motion-JPEG AVI payloads: each document gets
    ``n_frames`` solid-color frames with r,g,b = (5·s, 7·s, 11·s) mod 256
    for s = doc_id + 41·frame_idx — the same closed form as the JPEG gate
    (q98), so every decoded frame's pixel stats are oracle-checkable.
    fps = 25 for doc_id even, 10 otherwise (both divide 1000 → exact
    millisecond timestamps). Payloads are built executor-side."""
    import numpy as np

    docs = documents.select("doc_id")
    if max_docs is not None:
        docs = docs.filter(F.col("doc_id") < max_docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            for i in batch["doc_id"]:
                frames = [
                    np.full(
                        (height, width, 3),
                        [(5 * s) % 256, (7 * s) % 256, (11 * s) % 256],
                        dtype=np.uint8,
                    )
                    for s in (int(i) + 41 * f for f in range(n_frames))
                ]
                payloads.append(
                    encode_avi_mjpeg(frames, fps=25 if int(i) % 2 == 0 else 10)
                )
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": "video",
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, media_type string, payload binary")


def extract_frame_features(
    frames: DataFrame, fake: bool = False, min_partitions: int | None = None
) -> DataFrame:
    """Per-frame pixel stats over :func:`sample_frames` output — decodes
    each sampled frame payload (MJPEG frames are complete JPEGs, so the
    dependency-free codec applies) and keys the result by (doc_id,
    frame_idx). Null payloads (e.g. MP4 container-only probes) yield null
    stats; the row is kept so the sampling structure stays visible."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            rows = []
            for _, r in batch.iterrows():
                p = r["frame_payload"]
                feats = (
                    (_fake_decode(bytes(p)) if fake else _real_decode(bytes(p)))
                    if p is not None
                    else {}
                )
                rows.append(
                    (
                        r["doc_id"],
                        r["frame_idx"],
                        r["frame_ts_s"],
                        feats.get("width"),
                        feats.get("height"),
                        feats.get("mean_luma"),
                        feats.get("phash"),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "frame_ts_s",
                    "width", "height", "mean_luma", "phash",
                ],
            )
            for c in ("width", "height"):
                out[c] = pd.array(out[c], dtype="Int32")
            out["phash"] = pd.array(out["phash"], dtype="Int64")
            yield out

    return _maybe_parallel(frames, min_partitions).mapInPandas(
        run, schema=FRAME_FEATURES_SCHEMA
    )


def synthesize_audio_table(
    documents: DataFrame,
    codec: int = 1,
    n_samples: int = 800,
    sample_rate: int = 8000,
    max_docs: int | None = None,
) -> DataFrame:
    """Media table of REAL WAV payloads: a constant-amplitude signal with
    amplitude a = (997·doc_id) mod 30000 + 100 (always positive, below
    every codec's clip point), encoded in the requested format (PCM /
    A-law / µ-law / IMA ADPCM — ``operators/audio.py``). For the G.711
    codecs the decoded amplitude — hence RMS — has the integer closed
    form in audio.py's docstring, so gate oracles can replicate it."""
    import numpy as np

    from hfsa_spark.operators.audio import encode_wav

    docs = documents.select("doc_id")
    if max_docs is not None:
        docs = docs.filter(F.col("doc_id") < max_docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            for i in batch["doc_id"]:
                amp = (997 * int(i)) % 30000 + 100
                sig = np.full(n_samples, amp, dtype=np.int16)
                payloads.append(encode_wav(sig, sample_rate, codec))
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": "audio",
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, media_type string, payload binary")


def synthesize_scene_avi_table(
    documents: DataFrame,
    width: int = 16,
    height: int = 16,
    n_frames: int = 8,
    max_docs: int | None = None,
) -> DataFrame:
    """Media table of REAL MJPEG AVIs with ONE scene cut per document at
    frame c = 2 + (doc_id mod 4): grayscale solid frames at v1 = 40 +
    (doc_id mod 150) before the cut and v1 + 60 after — a ~0.235 luma
    jump vs JPEG quantization noise of ~±0.01, so any sane threshold
    recovers the cut exactly. The oracle is the literal closed form."""
    import numpy as np

    docs = documents.select("doc_id")
    if max_docs is not None:
        docs = docs.filter(F.col("doc_id") < max_docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            for i in batch["doc_id"]:
                cut = 2 + int(i) % 4
                v1 = 40 + int(i) % 150
                frames = [
                    np.full((height, width, 3), v1 if f < cut else v1 + 60, dtype=np.uint8)
                    for f in range(n_frames)
                ]
                payloads.append(encode_avi_mjpeg(frames, fps=25))
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": "video",
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, media_type string, payload binary")


def detect_scene_changes(
    media: DataFrame,
    threshold: float = 0.1,
    every_n: int = 1,
    min_partitions: int | None = None,
) -> DataFrame:
    """Scene-cut detection over video columns: decode sampled frames
    (Arrow boundary — the only Python stage), then the temporal logic is
    a pure JVM window: per-document lag of mean luma, emit frames whose
    |Δluma| exceeds ``threshold``. Returns (doc_id, frame_idx,
    frame_ts_s, luma_delta).

    Scale: frame decode is map-only over the sampled frames; the window
    partitions by document and its state is one row — no corpus-wide
    shuffle beyond the per-doc repartition the window needs."""
    from pyspark.sql import Window

    feats = extract_frame_features(
        sample_frames(media, every_n=every_n, min_partitions=min_partitions),
        min_partitions=min_partitions,
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    return (
        feats.withColumn("__prev", F.lag("mean_luma").over(w))
        .filter(
            F.col("__prev").isNotNull()
            & (F.abs(F.col("mean_luma") - F.col("__prev")) > threshold)
        )
        .select(
            "doc_id",
            "frame_idx",
            "frame_ts_s",
            (F.col("mean_luma") - F.col("__prev")).alias("luma_delta"),
        )
    )


AUDIO_SEGMENTS_SCHEMA = (
    "doc_id bigint, seg_idx int, start_ms int, end_ms int, active boolean"
)


def extract_audio_segments(
    media: DataFrame,
    frame_ms: int = 10,
    threshold: float = 0.01,
    min_partitions: int | None = None,
) -> DataFrame:
    """Speech/silence segmentation over audio columns: decode each WAV
    (any supported codec) to samples, energy-gate ``frame_ms`` frames,
    merge runs → (doc_id, seg_idx, start_ms, end_ms, active) with
    half-open bounds. Arrow map-only; non-WAV payloads yield no rows."""
    from hfsa_spark.operators.audio import silence_segments

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for _, r in batch.iterrows():
                payload = bytes(r["payload"]) if r["payload"] is not None else b""
                w = parse_wav(payload, return_samples=True)
                if w is None:
                    continue
                segs = silence_segments(
                    w["samples"], w["sample_rate"], frame_ms, threshold
                )
                for k, (s, e, act) in enumerate(segs):
                    rows.append((r["doc_id"], k, s, e, act))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "seg_idx", "start_ms", "end_ms", "active"]
                )

    return (
        _maybe_parallel(
            media.filter(F.col("media_type") == "audio").select("doc_id", "payload"),
            min_partitions,
        )
        .mapInPandas(run, schema=AUDIO_SEGMENTS_SCHEMA)
    )


def synthesize_segmented_audio_table(
    documents: DataFrame,
    total_ms: int = 200,
    sample_rate: int = 8000,
    max_docs: int | None = None,
) -> DataFrame:
    """Media table of REAL PCM WAVs with a doc_id-derived square on/off
    envelope: silence for off_ms = 20 + 10·(doc_id mod 3), tone
    (constant amplitude 5000 ≈ −16 dBFS) for on_ms = 30 + 10·(doc_id
    mod 5), repeating until ``total_ms``. All bounds are multiples of
    the 10 ms analysis frame, so the segmentation closed form is exact
    integer arithmetic the oracle replicates."""
    import numpy as np

    from hfsa_spark.operators.audio import encode_wav

    docs = documents.select("doc_id")
    if max_docs is not None:
        docs = docs.filter(F.col("doc_id") < max_docs)
    spms = sample_rate // 1000

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            for i in batch["doc_id"]:
                off = 20 + int(i) % 3 * 10
                on = 30 + int(i) % 5 * 10
                sig = np.zeros(total_ms * spms, dtype=np.int16)
                t = 0
                while t < total_ms:
                    a0, a1 = t + off, min(t + off + on, total_ms)
                    if a0 < total_ms:
                        sig[a0 * spms : a1 * spms] = 5000
                    t += off + on
                payloads.append(encode_wav(sig, sample_rate))
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": "audio",
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(run, schema="doc_id bigint, media_type string, payload binary")


def synthesize_tone_audio_table(
    documents: DataFrame,
    n_fft: int = 256,
    n_frames: int = 4,
    sample_rate: int = 8000,
    max_docs: int | None = None,
) -> DataFrame:
    """Media table of REAL PCM WAVs carrying a pure sine at a bin-exact
    frequency: bin k = 3 + (doc_id mod 60), f = k·sr/n_fft, amplitude
    8000, ``n_frames`` full analysis windows. Because the tone sits
    exactly on an FFT bin, the spectral argmax is immune to int16
    rounding noise and has the closed form the gate oracle replicates."""
    import numpy as np

    from hfsa_spark.operators.audio import encode_wav

    docs = documents.select("doc_id")
    if max_docs is not None:
        docs = docs.filter(F.col("doc_id") < max_docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            n = n_fft * n_frames
            t = np.arange(n, dtype=np.float64)
            for doc_id in batch["doc_id"]:
                k = 3 + int(doc_id) % 60
                x = np.rint(
                    8000.0 * np.sin(2.0 * np.pi * k * t / n_fft)
                ).astype(np.int16)
                payloads.append(encode_wav(x, sample_rate=sample_rate))
            yield pd.DataFrame({"doc_id": batch["doc_id"], "payload": payloads})

    return docs.mapInPandas(run, schema="doc_id bigint, payload binary")


def extract_spectral_peaks(
    media: DataFrame,
    n_fft: int = 256,
    min_partitions: int | None = None,
) -> DataFrame:
    """Dominant-frequency tracking over audio columns — the
    tone-detection / audio-fingerprinting primitive: decode each WAV
    (any supported codec), slice into non-overlapping ``n_fft``-sample
    frames, real-FFT each frame, report the peak magnitude bin (DC
    excluded; ties break toward the lower bin via argmax). Output
    (doc_id, frame_idx, peak_bin, peak_hz_milli) with
    peak_hz_milli = floor(peak_bin·sr·1000 / n_fft) — exact integers, so
    downstream grouping (e.g. per-tone dedup) is engine-portable.

    Scale: Arrow map-only over the payload column (one numpy rfft per
    frame batch, no shuffle, no driver collect); partial frames are
    dropped. Non-WAV payloads yield no rows."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for _, r in batch.iterrows():
                payload = bytes(r["payload"]) if r["payload"] is not None else b""
                w = parse_wav(payload, return_samples=True)
                if w is None:
                    continue
                x = np.asarray(w["samples"], dtype=np.float64)
                n_frames = len(x) // n_fft
                if n_frames == 0:
                    continue
                frames = x[: n_frames * n_fft].reshape(n_frames, n_fft)
                mag = np.abs(np.fft.rfft(frames, axis=1))
                peak = 1 + np.argmax(mag[:, 1:], axis=1)  # DC excluded
                sr = int(w["sample_rate"])
                for fi in range(n_frames):
                    pb = int(peak[fi])
                    rows.append(
                        (r["doc_id"], fi, pb, pb * sr * 1000 // n_fft)
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["doc_id", "frame_idx", "peak_bin", "peak_hz_milli"],
                )

    src = _maybe_parallel(media.select("doc_id", "payload"), min_partitions)
    return src.mapInPandas(
        run,
        schema="doc_id bigint, frame_idx int, peak_bin int, peak_hz_milli bigint",
    )


def synthesize_patterned_bmp_table(
    documents: DataFrame, max_docs: int | None = 100
) -> DataFrame:
    """Media table of REAL 16×16 BMPs whose 8×8 block pattern IS a known
    64-bit code, so the downstream aHash has a closed form: cell (r,c) of
    the 8×8 grid (2×2 pixels each) is white iff bit ``63−(8r+c)`` of
    ``B(doc_id)`` is set, hence ``phash == B(doc_id)`` exactly.

    ``B`` plants near-duplicates: doc_ids ≡ 1 (mod 10) reuse the previous
    doc's base code with ONE mid bit flipped (Hamming distance 1); all
    other codes are independent 60-bit hashes (expected pairwise distance
    ≈ 30 — far outside any small radius). Bit 0 is forced 1 and the top 4
    bits are 0, so the thumbnail mean is strictly between black and white
    and the threshold comparison is exact."""
    import hashlib

    import numpy as np

    docs = documents.select("doc_id")
    if max_docs is not None:
        docs = docs.filter(F.col("doc_id") < max_docs)

    def code(doc_id: int) -> int:
        group = doc_id - 1 if doc_id % 10 == 1 else doc_id
        b = int(hashlib.md5(f"img:{group}".encode()).hexdigest()[:15], 16) | 1
        if doc_id % 10 == 1:
            b ^= 1 << (5 + (doc_id * 7) % 50)
        return b

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            for doc_id in batch["doc_id"]:
                b = code(int(doc_id))
                cells = np.array(
                    [(b >> (63 - i)) & 1 for i in range(64)], dtype=np.uint8
                ).reshape(8, 8) * np.uint8(255)
                img = np.repeat(np.repeat(cells, 2, axis=0), 2, axis=1)
                payloads.append(encode_bmp(img))
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": "image",
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(
        run, schema="doc_id bigint, media_type string, payload binary"
    )


def image_near_dup_pairs(
    media: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = 10_000,
    fake: bool = False,
) -> DataFrame:
    """Image near-duplicate detection — the visual-dedup step of a
    multimodal pipeline: decode every raster payload, compute the 64-bit
    perceptual hash (8×8 aHash, :func:`decode_image_batch`), then find
    all pairs within ``max_hamming`` via the shared pigeonhole banding
    generator (``dedup.hamming_neardup_pairs``) — an equi join on band
    chunks, never a cross join, exact popcount verify.

    Scale: decode is Arrow map-only; the only shuffle is the (band, chunk)
    self-join whose buckets are capped; undecodable payloads (no phash)
    are dropped before banding. Returns (id_a, id_b, hamming)."""
    from hfsa_spark.operators.dedup import hamming_neardup_pairs

    feats = extract_image_features(media, fake=fake)
    sigs = feats.select("doc_id", "phash").filter(F.col("phash").isNotNull())
    return hamming_neardup_pairs(
        sigs, "doc_id", "phash", bits=64, max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def audio_fingerprints(
    media: DataFrame,
    n_fft: int = 256,
    max_frames: int = 16,
    min_partitions: int | None = None,
) -> DataFrame:
    """Audio fingerprinting over the dominant-frequency track — the
    constellation-hash idea reduced to its deterministic core: the
    fingerprint is the md5 of the first ``max_frames`` spectral peak
    bins (``extract_spectral_peaks``), so two recordings match iff their
    peak tracks match — robust to amplitude changes and to any codec the
    WAV layer decodes (peaks survive G.711/ADPCM re-encoding when tones
    sit on FFT bins). Returns (doc_id, n_frames, fingerprint).

    Exact-match dedup on the fingerprint is a plain groupBy; feed
    near-match needs into :func:`hfsa_spark.operators.dedup.
    hamming_neardup_pairs` over a per-frame-quantized signature instead.

    Scale: peaks are Arrow map-only; the fingerprint folds per doc with
    a map-combinable collect_list bounded by ``max_frames``.
    """
    peaks = extract_spectral_peaks(media, n_fft=n_fft, min_partitions=min_partitions)
    seq = (
        peaks.filter(F.col("frame_idx") < max_frames)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.array_sort(
                F.collect_list(F.struct("frame_idx", "peak_bin"))
            ).alias("__seq"),
        )
    )
    sig = F.md5(
        F.array_join(
            F.transform(F.col("__seq"), lambda s: s["peak_bin"].cast("string")), ","
        )
    )
    return seq.select("doc_id", "n_frames", sig.alias("fingerprint"))
