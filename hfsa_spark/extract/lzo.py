"""Clean-room LZO1X block codec: a full decompressor plus a literal-only
compressor, implemented solely from the PUBLIC byte-stream documentation
(the LZO1X stream format as documented in the Linux kernel's
``Documentation/staging/lzo.rst``). No GPL source was consulted, copied,
or linked.

Why this exists: the reference accepts ANY codec Hadoop's factory
resolves for ``dfs.image.compression.codec``
(`lib/.../core/FsImageLoader.java:268` via
``FSImageUtil.wrapInputStreamForCompression``), and clusters with the
hadoop-lzo plugin installed can legitimately write LZO-compressed
fsimages. ``com.hadoop.compression.lzo.LzoCodec`` wraps raw LZO1X blocks
in the same ``BlockCompressorStream`` framing as Lz4/Snappy
(``[origBlockSize BE][chunkLen BE][chunk]…``) — that framing lives in
``fsimage.py``; this module handles only the raw LZO1X chunk payloads.

Two compressors: the writer's default emits pure literal runs (the
format's incompressible-input encoding — valid everywhere, O(1) per
byte, doesn't shrink; its fixtures exercise the DECODER, not ratios),
and :func:`lzo1x_compress_greedy` performs real greedy matching through
all three distance windows so round-trip tests drive the decoder's
match paths with arbitrary data, not just the pointwise spec vectors.

Instruction set implemented (normative source: the public kernel doc):

==========================  ==============================================
first byte > 17             copy (byte-17) literals; state=min(that, 4)
t = 0..15, state == 0       literal run, len = 3 + (L or 15+255*z+nz)
t = 0..15, state in 1..3    2-byte match, dist = (H<<2)+D+1      [+1 byte]
t = 0..15, state == 4       3-byte match, dist = (H<<2)+D+2049   [+1 byte]
t = 16..31                  match, len = 2 + (L3 or 7+255*z+nz),
                            dist = 16384 + (H<<14) + (le16>>2)  [+2 bytes]
                            dist == 16384 -> end of stream
t = 32..63                  match, len = 2 + (L5 or 31+255*z+nz),
                            dist = (le16>>2) + 1                [+2 bytes]
t = 64..127                 match, len = 3 + ((t>>5)&1),
                            dist = (H<<3) + ((t>>2)&7) + 1      [+1 byte]
t = 128..255                match, len = 5 + ((t>>5)&3),
                            dist = (H<<3) + ((t>>2)&7) + 1      [+1 byte]
==========================  ==============================================

Every match carries S = (trailing 2 bits) literals copied verbatim after
it; S becomes the next instruction's ``state``.

Scale posture: pure-Python decode runs ~14 MB/s on instruction-dense
(well-compressed) streams and ~150 MB/s on literal-dominated ones
(measured round 9). Acceptable because (a) sections decompress ONCE per
extract — the 100 TB architecture reads the materialized parquet, never
the image, after that — and (b) LZO images exist only on clusters that
deliberately installed the out-of-tree plugin; the bundled codecs all
decode at C speed. Big sections no longer pay it: the scratch-file
writer ``fsimage._write_section`` decodes LZO sections of at least
``fsimage._LZO_PARALLEL_MIN`` (32 MiB) in a block-parallel process pool
(measured 22 -> 360 MB/s on a 315 MB section, round 10), and falls back
to the exact sequential ``fsimage._iter_section``.
"""

from __future__ import annotations

__all__ = [
    "lzo1x_decompress",
    "lzo1x_compress_literal",
    "lzo1x_compress_greedy",
    "LzoLiteralCompressor",
]

_EOS = b"\x11\x00\x00"  # t=17 (len 3) + le16 0 -> distance 16384 = end


def _ext_len(src: bytes, ip: int, mask: int) -> tuple[int, int]:
    """Zero-byte run-length extension: mask + 255*zeros + final nonzero."""
    n = len(src)
    z = 0
    while ip < n and src[ip] == 0:
        z += 1
        ip += 1
    if ip >= n:
        raise ValueError("corrupt lzo chunk: truncated length extension")
    return mask + 255 * z + src[ip], ip + 1


def lzo1x_decompress(
    src: bytes,
    expected_size: int | None = None,
    *,
    max_size: int | None = None,
    strict: bool = True,
) -> bytes:
    """Decompress one raw LZO1X chunk. ``expected_size``, when given, is
    validated against the produced length (Hadoop's block header carries
    it; a mismatch means a corrupt or mis-framed chunk). ``max_size``
    aborts the decode the moment output WOULD exceed it — a single
    run-length-extended instruction can legally expand ~255x the input,
    so callers framing untrusted chunks pass the block header's
    remaining budget here instead of materializing first and checking
    after. ``strict`` (default) rejects trailing bytes after the
    end-of-stream marker: Hadoop chunk lengths are exact, so leftovers
    mean corruption or mis-framing."""
    n = len(src)
    if n < 3:
        raise ValueError("corrupt lzo chunk: shorter than the end marker")
    if max_size is None and expected_size is not None:
        max_size = expected_size
    out = bytearray()
    ip = 0
    state = 0

    b0 = src[0]
    if b0 > 17:
        ip = 1
        t = b0 - 17
        if ip + t > n:
            raise ValueError("corrupt lzo chunk: truncated first literal run")
        if max_size is not None and t > max_size:
            raise ValueError(
                f"corrupt lzo chunk: output exceeds the {max_size}-byte cap"
            )
        out += src[ip : ip + t]
        ip += t
        state = 4 if t >= 4 else t

    while True:
        if ip >= n:
            raise ValueError("corrupt lzo chunk: missing end-of-stream marker")
        t = src[ip]
        ip += 1
        if t < 16:
            if state == 0:
                if t == 0:
                    t, ip = _ext_len(src, ip, 15)
                length = t + 3
                if ip + length > n:
                    raise ValueError("corrupt lzo chunk: truncated literal run")
                if max_size is not None and len(out) + length > max_size:
                    raise ValueError(
                        f"corrupt lzo chunk: output exceeds the"
                        f" {max_size}-byte cap"
                    )
                out += src[ip : ip + length]
                ip += length
                state = 4
                continue
            if ip >= n:
                raise ValueError("corrupt lzo chunk: truncated match")
            h = src[ip]
            ip += 1
            if state < 4:
                dist = (h << 2) + ((t >> 2) & 3) + 1
                length = 2
            else:
                dist = (h << 2) + ((t >> 2) & 3) + 2049
                length = 3
            s = t & 3
        elif t < 32:
            length = t & 7
            if length == 0:
                length, ip = _ext_len(src, ip, 7)
            length += 2
            if ip + 2 > n:
                raise ValueError("corrupt lzo chunk: truncated match")
            le16 = src[ip] | (src[ip + 1] << 8)
            ip += 2
            s = le16 & 3
            dist = 16384 + ((t & 8) << 11) + (le16 >> 2)
            if dist == 16384:
                if strict and ip != n:
                    raise ValueError(
                        f"corrupt lzo chunk: {n - ip} trailing bytes after"
                        " the end-of-stream marker"
                    )
                if expected_size is not None and len(out) != expected_size:
                    raise ValueError(
                        f"corrupt lzo chunk: produced {len(out)} bytes,"
                        f" block header says {expected_size}"
                    )
                return bytes(out)
        elif t < 64:
            length = t & 31
            if length == 0:
                length, ip = _ext_len(src, ip, 31)
            length += 2
            if ip + 2 > n:
                raise ValueError("corrupt lzo chunk: truncated match")
            le16 = src[ip] | (src[ip + 1] << 8)
            ip += 2
            s = le16 & 3
            dist = (le16 >> 2) + 1
        elif t < 128:
            if ip >= n:
                raise ValueError("corrupt lzo chunk: truncated match")
            length = 3 + ((t >> 5) & 1)
            dist = (src[ip] << 3) + ((t >> 2) & 7) + 1
            ip += 1
            s = t & 3
        else:
            if ip >= n:
                raise ValueError("corrupt lzo chunk: truncated match")
            length = 5 + ((t >> 5) & 3)
            dist = (src[ip] << 3) + ((t >> 2) & 7) + 1
            ip += 1
            s = t & 3

        start = len(out) - dist
        if start < 0:
            raise ValueError(
                f"corrupt lzo chunk: match distance {dist} reaches before"
                " the start of output"
            )
        if max_size is not None and len(out) + length + s > max_size:
            raise ValueError(
                f"corrupt lzo chunk: output exceeds the {max_size}-byte cap"
            )
        if dist >= length:
            out += out[start : start + length]
        else:  # overlapping copy (RLE-style) must proceed byte-by-byte
            for i in range(length):
                out.append(out[start + i])
        if s:
            if ip + s > n:
                raise ValueError("corrupt lzo chunk: truncated trailing literals")
            out += src[ip : ip + s]
            ip += s
        state = s


def lzo1x_compress_literal(data: bytes) -> bytes:
    """Encode ``data`` as one valid LZO1X literal run + end marker (the
    format's incompressible-input path). Output is always a little
    LARGER than input — Hadoop's BlockCompressorStream stores whatever
    the compressor returns, so correctness never depends on shrinking."""
    n = len(data)
    if n == 0:
        return _EOS
    out = bytearray()
    if n < 4:
        # first-byte form: byte-17 literals (the regular long-run
        # instruction cannot encode fewer than 4)
        out.append(17 + n)
    elif n <= 18:
        out.append(n - 3)  # 0000LLLL literal run, state==0 at stream start
    else:
        rem = n - 18
        z, r = divmod(rem - 1, 255)
        out.append(0)
        out += b"\x00" * z
        out.append(r + 1)
    out += data
    out += _EOS
    return bytes(out)


def _emit_literals(out: bytearray, lits: bytes, patch_pos: int | None) -> None:
    """Emit pending literals under the format's state rules: 1-3 ride in
    the previous match's S bits (back-patched) followed by the bytes;
    0 emits nothing; >= 4 (or no previous match) becomes a literal-run
    instruction — legal exactly when the previous match carried S=0
    (state 0), which holds by construction because we only patch for
    counts 1-3."""
    n = len(lits)
    if n == 0:
        return
    if 1 <= n <= 3 and patch_pos is not None:
        out[patch_pos] |= n
        out += lits
        return
    if patch_pos is None and n <= 238:
        # stream start: the first-byte form covers 1..238 directly
        out.append(17 + n)
        out += lits
        return
    # literal-run instruction (state == 0 here)
    if n < 4:
        # cannot happen mid-stream (we always patch 1-3 into the previous
        # match), but keep a correct fallback: pad through the run form
        raise AssertionError("literal run shorter than 4 with no patch slot")
    if n <= 18:
        out.append(n - 3)
    else:
        rem = n - 18
        z, r = divmod(rem - 1, 255)
        out.append(0)
        out += b"\x00" * z
        out.append(r + 1)
    out += lits


def _emit_match(out: bytearray, dist: int, length: int) -> int:
    """Append one match instruction (S bits left 0 for back-patching);
    returns the byte offset holding the S bits."""
    if dist <= 2048 and 3 <= length <= 8:
        d = dist - 1
        if length <= 4:  # 0 1 L D D D S S + H
            t = 0x40 | ((length - 3) << 5) | ((d & 7) << 2)
        else:  # 1 L L D D D S S + H
            t = 0x80 | ((length - 5) << 5) | ((d & 7) << 2)
        out.append(t)
        patch = len(out) - 1
        out.append(d >> 3)
        return patch
    if dist <= 16384:  # M3: 0 0 1 L L L L L + le16
        d = dist - 1
        body = length - 2
        if body <= 31:
            out.append(0x20 | body)
        else:
            out.append(0x20)
            rem = body - 31
            z, r = divmod(rem - 1, 255)
            out += b"\x00" * z
            out.append(r + 1)
    else:  # M4: 0 0 0 1 H L L L + le16 (dist 16385..49151)
        d = dist - 16384
        h = (d >> 14) & 1
        d &= 0x3FFF
        body = length - 2
        if body <= 7:
            out.append(0x10 | (h << 3) | body)
        else:
            out.append(0x10 | (h << 3))
            rem = body - 7
            z, r = divmod(rem - 1, 255)
            out += b"\x00" * z
            out.append(r + 1)
    le16 = d << 2
    out.append(le16 & 0xFF)
    patch = len(out) - 1
    out.append(le16 >> 8)
    return patch


def lzo1x_compress_greedy(data: bytes, max_len: int = 2048) -> bytes:
    """Real (greedy, hash-chain-of-one) LZO1X compression: 3-byte-keyed
    last-occurrence table, matches of length >= 3 within the 49151-byte
    window, encoded through whichever of the M2/M3/M4 forms the distance
    admits, pending literals riding the previous match's S bits when 1-3
    and a literal-run instruction otherwise.

    Pure Python and deliberately simple — used by the round-trip tests so
    the DECODER's match paths face arbitrary real-data streams (the spec
    vectors pin each form pointwise; this exercises their interactions).
    The fsimage writer keeps the O(1)-per-byte literal encoder as its
    default for encode throughput; both emit valid LZO1X."""
    n = len(data)
    if n == 0:
        return _EOS
    out = bytearray()
    table: dict[int, int] = {}
    i = 0
    lit_start = 0
    patch_pos: int | None = None
    while i + 3 <= n:
        key = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16)
        j = table.get(key)
        table[key] = i
        if j is None or i - j > 49151:
            i += 1
            continue
        length = 3
        limit = min(n - i, max_len)
        while length < limit and data[j + length] == data[i + length]:
            length += 1
        dist = i - j
        _emit_literals(out, data[lit_start:i], patch_pos)
        patch_pos = _emit_match(out, dist, length)
        # index the skipped positions sparsely (every byte is overkill
        # for a correctness-oriented encoder)
        end = i + length
        for k in range(i + 1, min(end, n - 2), 7):
            table[data[k] | (data[k + 1] << 8) | (data[k + 2] << 16)] = k
        i = end
        lit_start = end
    _emit_literals(out, data[lit_start:n], patch_pos)
    out += _EOS
    return bytes(out)


class LzoLiteralCompressor:
    """pyarrow-Codec-shaped adapter so the fsimage writer's block emitter
    can treat LZO like its other block codecs."""

    def compress(self, block: bytes, asbytes: bool = True) -> bytes:
        return lzo1x_compress_literal(block)
