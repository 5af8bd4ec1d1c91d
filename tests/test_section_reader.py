"""Damaged sections through the one fsimage section reader.

Both load routes read a section through ``_iter_section``: the driver
route joins its pieces (``_read_section``), the distributed route writes
them to its scratch file (``_write_section``). On every damaged stream
below the two must return the same bytes or both raise, and follow the
one-shot stdlib decoders the driver route has always used
(``gzip.decompress``, ``zlib.decompress``, ``bz2.decompress``): a
truncated stream raises, and a second gzip or bzip2 member is read.
"""

from __future__ import annotations

import bz2
import gzip
import random
import struct
import zlib

import pytest

from hfsa_spark.extract.fsimage import (
    _read_footer,
    _read_section,
    _Section,
    _section,
    _write_section,
    load_fsimage,
)
from hfsa_spark.extract.fsimage_writer import (
    _bytes_field,
    _delimited,
    _field,
    _u64,
    write_fsimage,
)

_rng = random.Random(7)
PAYLOAD = bytes(_rng.getrandbits(8) for _ in range(20_000)) + b"fsimage" * 4_000

CODECS = {
    "gzip": ("org.apache.hadoop.io.compress.GzipCodec", gzip.compress, gzip.decompress),
    "zlib": ("org.apache.hadoop.io.compress.DefaultCodec", zlib.compress, zlib.decompress),
    "bzip2": ("org.apache.hadoop.io.compress.BZip2Codec", bz2.compress, bz2.decompress),
}

DAMAGE = {
    "truncated": lambda c: c[:-20],
    "two_members": lambda c: c + c,
    "trailing_garbage": lambda c: c + b"not a member",
}

# (codec, damage, expected): the payload copies read, or None for a raise
CASES = [
    ("gzip", "truncated", None),
    ("zlib", "truncated", None),
    ("bzip2", "truncated", None),
    ("gzip", "two_members", 2),
    ("zlib", "two_members", 1),  # zlib.decompress stops at the first stream
    ("bzip2", "two_members", 2),
    ("gzip", "trailing_garbage", None),
]


def _outcome(fn):
    try:
        return fn()
    except Exception:  # noqa: BLE001 - the kind of failure is not the point
        return None


@pytest.mark.parametrize("codec,damage,expected", CASES)
def test_damaged_section_reads_agree(tmp_path, codec, damage, expected):
    cls, compress, one_shot = CODECS[codec]
    data = DAMAGE[damage](compress(PAYLOAD))
    img = tmp_path / "img.bin"
    img.write_bytes(b"HEAD" + data + b"NEXT SECTION")
    section = _Section("INODE", len(data), 4)

    whole = _outcome(lambda: _read_section(str(img), cls, [section], "INODE"))

    def scratch():
        out = tmp_path / "scratch.bin"
        with open(out, "wb") as f:
            n = _write_section(str(img), cls, section, f)
        assert n == out.stat().st_size
        return out.read_bytes()

    want = None if expected is None else PAYLOAD * expected
    assert whole == want
    assert _outcome(scratch) == want
    assert _outcome(lambda: one_shot(data)) == want


def _cut_last_section(src: str, dst: str, name: str, cut: int) -> None:
    """Copy image ``src`` to ``dst`` with the last ``cut`` bytes of section
    ``name`` (the last section in the file) removed and the footer's
    section length shortened to match."""
    codec, sections = _read_footer(src)
    target = _section(sections, name)
    assert target.offset == max(s.offset for s in sections)
    summary = _field(1, 1) + _field(2, _u64(-66))
    if codec:
        summary += _bytes_field(3, codec.encode())
    for s in sections:
        length = s.length - cut if s is target else s.length
        entry = _bytes_field(1, s.name.encode()) + _field(2, length) + _field(3, s.offset)
        summary += _bytes_field(4, entry)
    framed = _delimited(summary)
    with open(src, "rb") as f:
        body = f.read(target.offset + target.length - cut)
    with open(dst, "wb") as f:
        f.write(body + framed + struct.pack(">i", len(framed)))


@pytest.mark.parametrize("codec,error", [("gzip", EOFError), (None, ValueError)])
@pytest.mark.parametrize("cut", [48, 150])
def test_truncated_inode_dir_raises_on_both_routes(spark, tmp_path, cut, codec, error):
    """An image whose INODE_DIR section is cut mid-stream fails the load on
    the driver, with the decoder's own error, on both routes: the gzip
    stream ends before its end marker, and in an uncompressed image the
    last directory entry runs past the section end. A load that returns
    a subset of the rows, or fails only in an executor, fails this test."""
    from perfbench.namespace import generate

    whole, img = str(tmp_path / "whole.img"), str(tmp_path / "cut.img")
    write_fsimage(whole, generate(5, 4000, depth=4).rows, codec=codec)
    _cut_last_section(whole, img, "INODE_DIR", cut)

    with pytest.raises(error, match=None if codec else "truncated section"):
        load_fsimage(spark, img, distributed=False)
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    with pytest.raises(error, match=None if codec else "truncated section"):
        load_fsimage(spark, img, distributed=True, scratch_dir=str(scratch))
    assert list(scratch.iterdir()) == []  # no partial scratch file is left
