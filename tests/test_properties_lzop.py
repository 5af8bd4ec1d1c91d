"""Hypothesis property net for the lzop FILE container (extract/lzop.py).

Round-11 VERDICT item 3: tests/test_lzop.py pins the format with
hand-assembled vectors and a corruption matrix; this file gives the
container parser the same randomized coverage test_properties_fsimage.py
gives the block codecs — random payloads round-tripped through
randomly-chosen points of the flag lattice:

    (ADLER32 | CRC32) x (D-checksum on/off) x (C-checksum on/off)
    x (stored | compressed blocks) x (extra field present/absent)
    x multi-block splits

plus the reject lattice (multipart, filter, trailing member, oversized
extra field). Files are assembled HERE, independent of LzopWriter, so the
reader cannot pass by sharing a writer bug — the same discipline as the
hand vectors. Reference behavior this backs: hadoop-lzo's LzopCodec as
factory-resolved by the reference loader (FsImageLoader.java:268).
"""

from __future__ import annotations

import io
import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hfsa_spark.extract.fsimage import _iter_section
from hfsa_spark.extract.lzo import lzo1x_compress_greedy
from hfsa_spark.extract.lzop import (
    LZOP_MAGIC,
    F_ADLER32_C,
    F_ADLER32_D,
    F_CRC32_C,
    F_CRC32_D,
    F_H_CRC32,
    F_H_EXTRA_FIELD,
    F_H_FILTER,
    F_MULTIPART,
    lzop_compress,
)


def _read(data: bytes) -> bytes:
    """``data`` read as one whole LzopCodec section."""
    return b"".join(_iter_section(io.BytesIO(data), "LzopCodec"))

# payloads that exercise both compressible runs and incompressible bytes
_PAYLOAD = st.one_of(
    st.binary(min_size=0, max_size=4096),
    st.builds(
        lambda unit, n: (unit * n)[:4096],
        st.binary(min_size=1, max_size=8),
        st.integers(min_value=1, max_value=2048),
    ),
)

# one point of the flag lattice: d/c checksum family (None = absent)
_DSUM = st.sampled_from([None, "adler", "crc"])
_CSUM = st.sampled_from([None, "adler", "crc"])


def _sum(kind: str, data: bytes) -> int:
    fn = zlib.crc32 if kind == "crc" else zlib.adler32
    return fn(data) & 0xFFFFFFFF


def _assemble(
    payload: bytes,
    splits: list[int],
    d_kind: str | None,
    c_kind: str | None,
    *,
    hdr_crc32: bool = False,
    extra: bytes | None = None,
    force_stored: bool = False,
    extra_flags: int = 0,
) -> bytes:
    """Hand-assemble one lzop file, writer-independently."""
    flags = extra_flags
    if d_kind == "adler":
        flags |= F_ADLER32_D
    elif d_kind == "crc":
        flags |= F_CRC32_D
    if c_kind == "adler":
        flags |= F_ADLER32_C
    elif c_kind == "crc":
        flags |= F_CRC32_C
    if hdr_crc32:
        flags |= F_H_CRC32
    if extra is not None:
        flags |= F_H_EXTRA_FIELD
    hdr = struct.pack(">HHHBBI", 0x1040, 0x2080, 0x0940, 1, 5, flags)
    hdr += struct.pack(">III", 0o100644, 0, 0)
    hdr += bytes([0])  # empty name
    csum = (zlib.crc32(hdr) if hdr_crc32 else zlib.adler32(hdr)) & 0xFFFFFFFF
    out = bytearray(LZOP_MAGIC + hdr + struct.pack(">I", csum))
    if extra is not None:
        out += struct.pack(">I", len(extra))
        out += extra
        out += struct.pack(">I", zlib.adler32(extra) & 0xFFFFFFFF)
    # split payload into blocks at the given cut points
    cuts = sorted({s % (len(payload) + 1) for s in splits})
    bounds = [0, *cuts, len(payload)]
    for lo, hi in zip(bounds, bounds[1:]):
        block = payload[lo:hi]
        if not block:
            continue
        comp = lzo1x_compress_greedy(block)
        stored = force_stored or len(comp) >= len(block)
        out += struct.pack(">I", len(block))
        out += struct.pack(">I", len(block) if stored else len(comp))
        if d_kind:
            out += struct.pack(">I", _sum(d_kind, block))
        if c_kind and not stored:  # compressed checksum omitted when stored
            out += struct.pack(">I", _sum(c_kind, comp))
        out += block if stored else comp
    out += struct.pack(">I", 0)  # end-of-stream marker
    return bytes(out)


@settings(max_examples=150, deadline=None)
@given(
    payload=_PAYLOAD,
    splits=st.lists(st.integers(min_value=0, max_value=4096), max_size=4),
    d_kind=_DSUM,
    c_kind=_CSUM,
    hdr_crc32=st.booleans(),
    extra=st.one_of(st.none(), st.binary(max_size=64)),
    force_stored=st.booleans(),
)
def test_flag_lattice_roundtrip(
    payload, splits, d_kind, c_kind, hdr_crc32, extra, force_stored
):
    f = _assemble(
        payload,
        splits,
        d_kind,
        c_kind,
        hdr_crc32=hdr_crc32,
        extra=extra,
        force_stored=force_stored,
    )
    assert _read(f) == payload


@settings(max_examples=80, deadline=None)
@given(payload=_PAYLOAD)
def test_writer_reader_roundtrip(payload):
    assert _read(lzop_compress(payload)) == payload


@settings(max_examples=60, deadline=None)
@given(
    payload=st.binary(min_size=1, max_size=512),
    d_kind=_DSUM,
    c_kind=_CSUM,
    flip=st.integers(min_value=0, max_value=10**9),
)
def test_block_bitflip_never_silently_accepted(payload, d_kind, c_kind, flip):
    """Any single bit-flip in the block region either still decodes to the
    exact payload (flip landed in slack the format doesn't constrain —
    impossible here since every block byte is length/checksum/data) or
    raises; it must never return different bytes when a data checksum is
    present."""
    f = bytearray(_assemble(payload, [], d_kind, c_kind))
    hdr_end = len(_assemble(b"", [], d_kind, c_kind)) - 4  # before end marker
    if len(f) - 4 <= hdr_end:
        return  # nothing to flip
    pos = hdr_end + flip % (len(f) - 4 - hdr_end)
    f[pos] ^= 1 << (flip % 8)
    try:
        out = _read(bytes(f))
    except ValueError:
        return
    if d_kind is not None:
        assert out == payload


@settings(max_examples=40, deadline=None)
@given(payload=_PAYLOAD, trailing=st.binary(min_size=1, max_size=32))
def test_trailing_bytes_rejected(payload, trailing):
    """Bytes after the end marker (second member / corruption) are
    rejected — the r11 exact-consumption guard."""
    with pytest.raises(ValueError, match="trailing"):
        _read(lzop_compress(payload) + trailing)


def test_second_member_rejected():
    two = lzop_compress(b"first") + lzop_compress(b"second")
    with pytest.raises(ValueError, match="trailing"):
        _read(two)


@pytest.mark.parametrize("flag,name", [(F_MULTIPART, "F_MULTIPART"),
                                       (F_H_FILTER, "F_H_FILTER")])
def test_reject_flags(flag, name):
    f = _assemble(b"x", [], None, None, extra_flags=flag)
    with pytest.raises(ValueError, match=name):
        _read(f)


def test_oversized_extra_field_rejected_before_allocation():
    """A hostile extra_len (u32 up to 4 GiB) must fail the sanity bound,
    not force the allocation (ADVICE r10)."""
    hdr = struct.pack(">HHHBBI", 0x1040, 0x2080, 0x0940, 1, 5, F_H_EXTRA_FIELD)
    hdr += struct.pack(">III", 0o100644, 0, 0)
    hdr += bytes([0])
    csum = zlib.adler32(hdr) & 0xFFFFFFFF
    hostile = LZOP_MAGIC + hdr + struct.pack(">I", csum) + struct.pack(">I", 0xFFFFFFF0)
    with pytest.raises(ValueError, match="extra field claims"):
        _read(hostile)
