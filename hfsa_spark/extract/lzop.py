"""Clean-room lzop FILE-format container (reader + writer) over the
LZO1X block codec in ``extract/lzo.py``. Written solely from the PUBLIC
lzop file-format documentation (the format description shipped with the
lzop tool / hadoop-lzo's documented wire behavior); no GPL source was
consulted, copied, or linked.

Why this exists: the reference accepts whatever codec Hadoop's factory
resolves for ``dfs.image.compression.codec``
(`lib/.../core/FsImageLoader.java:268`). Clusters with the hadoop-lzo
plugin can configure EITHER ``LzoCodec`` (raw BlockCompressorStream
framing — handled in ``fsimage.py`` + ``lzo.py``) OR ``LzopCodec``,
which writes the standalone lzop FILE format: its own magic, a header
with method/level/flags/checksums, then self-delimiting blocks. This
module closes that last factory-resolvable configuration.

Wire format (all integers big-endian):

```
magic   9 bytes  89 4C 5A 4F 00 0D 0A 1A 0A
header  u16 version            (>= 0x0940 in anything modern)
        u16 library version
        u16 version needed to extract
        u8  method              1=LZO1X-1  2=LZO1X-1(15)  3=LZO1X-999
        u8  level
        u32 flags               (checksum presence, header options)
        [u32 filter]            iff flags & F_H_FILTER  (rejected here)
        u32 mode
        u32 mtime_low
        u32 mtime_high
        u8  name_len, name bytes
        u32 header checksum     CRC32 iff F_H_CRC32 else Adler32,
                                over version..name inclusive
        [u32 extra_len, extra, u32 extra checksum]  iff F_H_EXTRA_FIELD
blocks  u32 uncompressed_len    0 terminates the stream
        u32 compressed_len      == ulen means the block is STORED raw
        [u32 d_checksum]        iff flags & (F_ADLER32_D | F_CRC32_D)
        [u32 c_checksum]        iff flags & (F_ADLER32_C | F_CRC32_C)
                                AND clen < ulen (a stored block's
                                compressed bytes ARE its plain bytes,
                                so the second checksum is omitted)
        data (clen bytes)
```

Adler32 seeds at 1 and CRC32 at 0 — zlib's defaults for both.

Scale posture: identical to ``lzo.py`` — an fsimage section decompresses
ONCE per extract, the 100 TB architecture reads materialized parquet
thereafter, and the streaming reader below never holds more than one
block (≤ a few MiB) plus its output in memory, so multi-GB lzop
sections flow through ``fsimage._iter_section`` at bounded memory. That
reader also requires the container to use up its section exactly.
"""

from __future__ import annotations

import io
import struct
import zlib
from typing import BinaryIO, Iterator

from hfsa_spark.extract.lzo import lzo1x_compress_greedy, lzo1x_decompress

__all__ = ["LZOP_MAGIC", "lzop_blocks", "lzop_compress"]

LZOP_MAGIC = b"\x89LZO\x00\r\n\x1a\n"

F_ADLER32_D = 0x00000001
F_ADLER32_C = 0x00000002
F_H_EXTRA_FIELD = 0x00000040
F_CRC32_D = 0x00000100
F_CRC32_C = 0x00000200
F_MULTIPART = 0x00000400
F_H_FILTER = 0x00000800
F_H_CRC32 = 0x00001000

_METHODS = {1: "LZO1X-1", 2: "LZO1X-1(15)", 3: "LZO1X-999"}

# sanity bound on a single block's uncompressed size: lzop's own maximum
# block size is 64 MiB; anything bigger in a length field is corruption
_MAX_BLOCK = 64 << 20


def _read_exact(f: BinaryIO, n: int, what: str) -> bytes:
    b = f.read(n)
    if len(b) != n:
        raise ValueError(f"corrupt lzop stream: truncated {what}")
    return b


def _read_header(f: BinaryIO) -> int:
    """Validate magic + header, return the flags word."""
    if _read_exact(f, len(LZOP_MAGIC), "magic") != LZOP_MAGIC:
        raise ValueError("corrupt lzop stream: bad magic")
    hdr = bytearray(_read_exact(f, 2 + 2 + 2 + 1 + 1 + 4, "header"))
    version, _libver, _need, method, _level, flags = struct.unpack(
        ">HHHBBI", hdr
    )
    if version < 0x0940:
        # the fixed header layout parsed here (version_needed, level,
        # mtime_high) exists from 0x0940 on; pre-1994 layouts are not
        # something any Hadoop cluster can produce
        raise ValueError(f"unsupported lzop stream: version {version:#06x} < 0x0940")
    if method not in _METHODS:
        raise ValueError(f"unsupported lzop method {method} (not an LZO1X level)")
    if flags & F_H_FILTER:
        # filters transform the payload before compression; hadoop-lzo
        # rejects them too, and no fsimage writer emits them
        raise ValueError("unsupported lzop stream: F_H_FILTER set")
    if flags & F_MULTIPART:
        raise ValueError("unsupported lzop stream: F_MULTIPART set")
    hdr += _read_exact(f, 4 + 4 + 4, "header")  # mode, mtime_low, mtime_high
    (name_len,) = _read_exact(f, 1, "header")
    hdr += bytes([name_len])
    hdr += _read_exact(f, name_len, "file name")
    (stored,) = struct.unpack(">I", _read_exact(f, 4, "header checksum"))
    computed = (
        zlib.crc32(hdr) if flags & F_H_CRC32 else zlib.adler32(hdr)
    ) & 0xFFFFFFFF
    if stored != computed:
        raise ValueError(
            f"corrupt lzop stream: header checksum {stored:#010x}"
            f" != computed {computed:#010x}"
        )
    if flags & F_H_EXTRA_FIELD:
        (extra_len,) = struct.unpack(">I", _read_exact(f, 4, "extra field"))
        if extra_len > _MAX_BLOCK:
            # same sanity bound as block lengths: a corrupt/hostile header
            # must not force a multi-GiB read before failing
            raise ValueError(
                f"corrupt lzop stream: extra field claims {extra_len} bytes"
                f" (> {_MAX_BLOCK} maximum)"
            )
        _read_exact(f, extra_len + 4, "extra field")  # data + its checksum
    return flags


def lzop_blocks(f: BinaryIO, *, verify_checksums: bool = True) -> Iterator[bytes]:
    """Stream-decode one lzop file from ``f`` (positioned at the magic) and
    yield its decompressed blocks; stops right after the end marker.
    Holds one block at a time — multi-GB sections run at bounded memory."""
    flags = _read_header(f)
    d_crc32 = bool(flags & F_CRC32_D)
    c_crc32 = bool(flags & F_CRC32_C)
    has_d = bool(flags & (F_ADLER32_D | F_CRC32_D))
    has_c = bool(flags & (F_ADLER32_C | F_CRC32_C))
    while True:
        (ulen,) = struct.unpack(">I", _read_exact(f, 4, "block header"))
        if ulen == 0:  # end-of-stream marker
            return
        if ulen > _MAX_BLOCK:
            raise ValueError(
                f"corrupt lzop stream: block claims {ulen} bytes"
                f" (> {_MAX_BLOCK} maximum)"
            )
        (clen,) = struct.unpack(">I", _read_exact(f, 4, "block header"))
        if clen > ulen:
            raise ValueError(
                f"corrupt lzop stream: compressed length {clen} exceeds"
                f" uncompressed length {ulen}"
            )
        d_sum = c_sum = None
        if has_d:
            (d_sum,) = struct.unpack(">I", _read_exact(f, 4, "block checksum"))
        if has_c and clen < ulen:
            (c_sum,) = struct.unpack(">I", _read_exact(f, 4, "block checksum"))
        data = _read_exact(f, clen, "block data")
        if clen == ulen:  # stored (incompressible) block
            out = data
        else:
            if verify_checksums and c_sum is not None:
                got = (zlib.crc32(data) if c_crc32 else zlib.adler32(data)) & 0xFFFFFFFF
                if got != c_sum:
                    raise ValueError(
                        f"corrupt lzop stream: compressed-data checksum"
                        f" {got:#010x} != stored {c_sum:#010x}"
                    )
            out = lzo1x_decompress(data, expected_size=ulen, max_size=ulen)
        if verify_checksums and d_sum is not None:
            got = (zlib.crc32(out) if d_crc32 else zlib.adler32(out)) & 0xFFFFFFFF
            if got != d_sum:
                raise ValueError(
                    f"corrupt lzop stream: uncompressed-data checksum"
                    f" {got:#010x} != stored {d_sum:#010x}"
                )
        yield out


class LzopWriter:
    """Streaming lzop writer against a file object: header at construction,
    one block per ``write`` flush (256 KiB, hadoop-lzo's default buffer),
    end marker at ``close``. Emits Adler32 checksums on both sides —
    lzop's defaults — and stores blocks raw when compression doesn't
    shrink them (the format's required incompressible path)."""

    BLOCK = 256 * 1024

    def __init__(self, f: BinaryIO):
        self._f = f
        self._buf = bytearray()
        hdr = struct.pack(
            ">HHHBBI", 0x1040, 0x2080, 0x0940, 1, 5, F_ADLER32_D | F_ADLER32_C
        )
        hdr += struct.pack(">III", 0o100644, 0, 0)  # mode, mtime lo/hi
        hdr += bytes([0])  # empty file name
        f.write(LZOP_MAGIC)
        f.write(hdr)
        f.write(struct.pack(">I", zlib.adler32(hdr) & 0xFFFFFFFF))

    def _emit(self, block: bytes) -> None:
        comp = lzo1x_compress_greedy(block)
        f = self._f
        f.write(struct.pack(">I", len(block)))
        if len(comp) < len(block):
            f.write(struct.pack(">I", len(comp)))
            f.write(struct.pack(">I", zlib.adler32(block) & 0xFFFFFFFF))
            f.write(struct.pack(">I", zlib.adler32(comp) & 0xFFFFFFFF))
            f.write(comp)
        else:  # stored: clen == ulen, compressed checksum omitted
            f.write(struct.pack(">I", len(block)))
            f.write(struct.pack(">I", zlib.adler32(block) & 0xFFFFFFFF))
            f.write(block)

    def write(self, data: bytes) -> None:
        self._buf += data
        while len(self._buf) >= self.BLOCK:
            self._emit(bytes(self._buf[: self.BLOCK]))
            del self._buf[: self.BLOCK]

    def close(self) -> None:
        if self._buf:
            self._emit(bytes(self._buf))
            self._buf = bytearray()
        self._f.write(struct.pack(">I", 0))


def lzop_compress(data: bytes) -> bytes:
    """Encode bytes as one lzop file (testing/fixture convenience)."""
    buf = io.BytesIO()
    w = LzopWriter(buf)
    w.write(data)
    w.close()
    return buf.getvalue()
