"""lzop FILE-format container tests (extract/lzop.py).

The headline vector is hand-assembled byte-by-byte from the public
format description — writer-INDEPENDENT, the same discipline as
tests/test_codec_vectors.py — so reader and writer cannot share a
misreading of the framing. (The LZO1X payload inside reuses the
spec-vector style from tests/test_lzo.py.)
"""

from __future__ import annotations

import io
import struct
import zlib

import pytest

from hfsa_spark.extract.lzop import (
    LZOP_MAGIC,
    LzopWriter,
    lzop_compress,
    lzop_decompress,
    lzop_decompress_file,
)
from tests.test_fsimage import H3_2, needs

# ------------------------------------------------ hand-assembled file --

# LZO1X stream for b"a" * 100, assembled instruction-by-instruction:
#   18            first-byte form: copy 18-17 = 1 literal ("a"), state=1
#   0x20 66       M3 match, length bits 0 -> extension: 31+66 = 97, +2 = 99
#   0x00 0x00     le16 = 0 -> distance 1, S = 0 (overlapping RLE copy)
#   0x11 0x00 0x00  end-of-stream marker
A100 = b"a" * 100
A100_LZO = bytes([18]) + b"a" + bytes([0x20, 66, 0x00, 0x00]) + b"\x11\x00\x00"


def _header(flags: int, *, version=0x1030, method=1, crc32_hdr=False) -> bytes:
    hdr = struct.pack(">HHHBBI", version, 0x2050, 0x0940, method, 1, flags)
    hdr += struct.pack(">III", 0o100644, 0, 0)
    hdr += bytes([0])  # empty name
    csum = (zlib.crc32(hdr) if crc32_hdr else zlib.adler32(hdr)) & 0xFFFFFFFF
    return LZOP_MAGIC + hdr + struct.pack(">I", csum)


def _file(flags: int, blocks: bytes, **kw) -> bytes:
    return _header(flags, **kw) + blocks + struct.pack(">I", 0)


def test_hand_assembled_compressed_block_adler_both_sides():
    flags = 0x0001 | 0x0002  # F_ADLER32_D | F_ADLER32_C
    blk = struct.pack(">II", 100, len(A100_LZO))
    blk += struct.pack(">I", zlib.adler32(A100) & 0xFFFFFFFF)
    blk += struct.pack(">I", zlib.adler32(A100_LZO) & 0xFFFFFFFF)
    blk += A100_LZO
    assert lzop_decompress(_file(flags, blk)) == A100


def test_hand_assembled_stored_block():
    # clen == ulen -> raw bytes, compressed checksum OMITTED per the spec
    flags = 0x0001 | 0x0002
    data = b"incompressible?"
    blk = struct.pack(">II", len(data), len(data))
    blk += struct.pack(">I", zlib.adler32(data) & 0xFFFFFFFF)
    blk += data
    assert lzop_decompress(_file(flags, blk)) == data


def test_hand_assembled_no_checksums_and_multi_block():
    blk1 = struct.pack(">II", 100, len(A100_LZO)) + A100_LZO
    blk2 = struct.pack(">II", 3, 3) + b"xyz"
    assert lzop_decompress(_file(0, blk1 + blk2)) == A100 + b"xyz"


def test_hand_assembled_crc32_variant():
    # F_CRC32_D | F_CRC32_C | F_H_CRC32
    flags = 0x0100 | 0x0200 | 0x1000
    blk = struct.pack(">II", 100, len(A100_LZO))
    blk += struct.pack(">I", zlib.crc32(A100) & 0xFFFFFFFF)
    blk += struct.pack(">I", zlib.crc32(A100_LZO) & 0xFFFFFFFF)
    blk += A100_LZO
    assert lzop_decompress(_file(flags, blk, crc32_hdr=True)) == A100


def test_empty_payload():
    assert lzop_decompress(_file(0, b"")) == b""
    assert lzop_decompress(lzop_compress(b"")) == b""


# ------------------------------------------------------------- errors --


def test_bad_magic():
    with pytest.raises(ValueError, match="bad magic"):
        lzop_decompress(b"\x89LZX\x00\r\n\x1a\n" + b"\x00" * 40)


def test_header_checksum_mismatch():
    good = _file(0, b"")
    bad = bytearray(good)
    bad[11] ^= 0xFF  # flip a byte inside the checksummed span
    with pytest.raises(ValueError, match="header checksum"):
        lzop_decompress(bytes(bad))


def test_block_checksum_mismatches():
    flags = 0x0001 | 0x0002
    blk = struct.pack(">II", 100, len(A100_LZO))
    blk += struct.pack(">I", (zlib.adler32(A100) ^ 1) & 0xFFFFFFFF)
    blk += struct.pack(">I", zlib.adler32(A100_LZO) & 0xFFFFFFFF)
    blk += A100_LZO
    with pytest.raises(ValueError, match="uncompressed-data checksum"):
        lzop_decompress(_file(flags, blk))
    blk2 = struct.pack(">II", 100, len(A100_LZO))
    blk2 += struct.pack(">I", zlib.adler32(A100) & 0xFFFFFFFF)
    blk2 += struct.pack(">I", (zlib.adler32(A100_LZO) ^ 1) & 0xFFFFFFFF)
    blk2 += A100_LZO
    with pytest.raises(ValueError, match="compressed-data checksum"):
        lzop_decompress(_file(flags, blk2))
    # verify_checksums=False tolerates both (salvage mode)
    assert lzop_decompress(_file(flags, blk), verify_checksums=False) == A100


def test_rejected_features_and_corruption():
    with pytest.raises(ValueError, match="F_H_FILTER"):
        lzop_decompress(_header(0x0800) )
    with pytest.raises(ValueError, match="F_MULTIPART"):
        lzop_decompress(_header(0x0400))
    with pytest.raises(ValueError, match="version"):
        lzop_decompress(_header(0, version=0x0920))
    with pytest.raises(ValueError, match="method"):
        lzop_decompress(_header(0, method=42))
    with pytest.raises(ValueError, match="truncated"):
        lzop_decompress(_header(0))  # no end marker
    blk = struct.pack(">II", 2, 5) + b"xxxxx"  # clen > ulen
    with pytest.raises(ValueError, match="exceeds"):
        lzop_decompress(_file(0, blk))
    blk = struct.pack(">II", 1 << 30, 4) + b"xxxx"  # absurd block size
    with pytest.raises(ValueError, match="maximum"):
        lzop_decompress(_file(0, blk))


# -------------------------------------------------- writer round-trip --


@pytest.mark.parametrize("n", [0, 1, 100, 256 * 1024 - 1, 256 * 1024, 700_000])
def test_writer_roundtrip_sizes(n):
    import hashlib

    # half-compressible: repeated motif + incompressible tail exercises
    # both the compressed and stored block paths
    motif = b"0123456789abcdef" * 64
    data = (motif * (n // len(motif) + 1))[: n // 2]
    data += hashlib.shake_256(f"lzop{n}".encode()).digest(n - len(data))
    assert lzop_decompress(lzop_compress(data)) == data


def test_writer_emits_stored_blocks_for_incompressible_data():
    import hashlib

    data = hashlib.shake_256(b"noise").digest(4096)
    enc = lzop_compress(data)
    body = enc[len(LZOP_MAGIC) + 25 + 4 :]  # past header+checksum
    ulen, clen = struct.unpack_from(">II", body)
    assert (ulen, clen) == (4096, 4096)  # stored, not expanded
    assert lzop_decompress(enc) == data


def test_streaming_file_reader_bounded(tmp_path):
    # reader against a real file object with trailing unrelated bytes:
    # must stop exactly at the end marker (self-delimiting container)
    data = b"block" * 100_000  # ~500 KB, multi-block
    path = tmp_path / "s.lzop"
    with open(path, "wb") as f:
        w = LzopWriter(f)
        w.write(data)
        w.close()
        end = f.tell()
        f.write(b"NEXT SECTION")
    with open(path, "rb") as f:
        out = bytearray()
        n = lzop_decompress_file(f, out.extend)
        assert f.tell() == end  # did not read into the next section
    assert n == len(data) and bytes(out) == data


@needs(H3_2)
def test_fsimage_level_acceptance(tmp_path):
    """A writer-produced LzopCodec image decodes identically to its
    uncompressed twin — the configuration the reference accepts via
    Hadoop's factory (FsImageLoader.java:268) and r9 still rejected."""
    from hfsa_spark.extract.fsimage import parse_fsimage
    from hfsa_spark.extract.fsimage_writer import write_fsimage

    src = parse_fsimage(H3_2)
    plain, comp = str(tmp_path / "p.img"), str(tmp_path / "c.img")
    write_fsimage(plain, src)
    write_fsimage(comp, src, codec="lzop")
    raw = open(comp, "rb").read()
    assert b"com.hadoop.compression.lzo.LzopCodec" in raw
    assert LZOP_MAGIC in raw

    def comparable(rows):
        return sorted(
            ({k: v for k, v in r.items() if k != "permission_raw"} for r in rows),
            key=lambda r: r["id"],
        )

    assert comparable(parse_fsimage(comp)) == comparable(parse_fsimage(plain))


def test_section_exact_consumption(tmp_path):
    """The fsimage lzop-section path requires EXACT consumption of the
    section byte range (r11 guard): an under-run (trailing section bytes
    the container never looked at) is as corrupt as an over-run."""
    import tempfile

    from hfsa_spark.extract.fsimage import _decompress_to_file

    payload = lzop_compress(b"hello lzop section")
    src = tmp_path / "sect.bin"
    src.write_bytes(payload + b"JUNK")  # 4 unconsumed trailing bytes
    with tempfile.TemporaryFile() as out:
        # exact length: fine
        n = _decompress_to_file(str(src), 0, len(payload), out, "LzopCodec")
        assert n == len(b"hello lzop section")
        # length overstated by the junk -> under-run -> reject
        with pytest.raises(ValueError, match="consumed"):
            _decompress_to_file(str(src), 0, len(payload) + 4, out, "LzopCodec")
