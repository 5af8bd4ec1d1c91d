"""Binary fsimage source (SURVEY.md §2.1 S1-S5): parse an HDFS NameNode
fsimage file into the canonical ``inodes`` DataFrame — no Hadoop runtime
needed.

Format knowledge is public (Hadoop's ``fsimage.proto`` / ``hdfs.proto`` and
the HDFS-5698 design): a ``HDFSIMG1`` magic header, protobuf sections at
recorded offsets, and a FileSummary footer (delimited FileSummary message +
4-byte big-endian length) at the file end. Parity target:
/root/reference lib/.../core/FsImageLoader.java:286-376 (behavior only —
this is an independent pure-Python wire-format decoder).

Sections consumed (same four as the reference):
* STRING_TABLE     — user/group dictionary incl. 3.x maskBits
* INODE            — one delimited INode message per inode
* INODE_DIR        — parent → children adjacency (packed varints)
* INODE_REFERENCE  — snapshot/rename indirection for refChildren

One section reader serves both load routes, as hfsa opens every section
through one codec stream (``FsImageLoader.java:252-277``). ``_read_footer``
parses the FileSummary once; ``_iter_section`` decodes one section from a
bounded ``_FileSlice`` and yields its decompressed pieces. It holds the
codec dispatch, so every codec follows one set of rules on every route: a
truncated stream raises, concatenated gzip and bzip2 members are read, and
an lzop container must use up its section exactly.

Small images take the driver route (``parse_fsimage``): it seeks to each
section, joins its pieces, decodes every message in Python, and
``pathmat.resolve_paths`` walks the tree there, so the rows enter Spark
once with their paths set and no Spark job runs per namespace level.

Big images (``load_fsimage(distributed=True)``, auto-enabled past
``_DISTRIBUTED_THRESHOLD`` INODE bytes) decode their messages on the
executors. A compressed image first has its INODE and INODE_DIR pieces
written once, driver-side at constant memory, to a scratch file; by
default it lives in the session's ``SparkFiles`` root, which Spark removes
when the session stops (in cluster mode point ``scratch_dir`` at storage
every executor can read). The driver then walks only the delimited-message
length prefixes to cut byte-range chunks, executors decode the chunks via
Arrow ``mapInPandas``, parents are wired by a join against the INODE_DIR
edges, and ``pathmat.materialize_paths`` builds the paths level by level.
"""

from __future__ import annotations

import gzip
import hashlib
import mmap
import os
import struct
import zlib
from dataclasses import dataclass, field
from itertools import islice
from typing import Iterator

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession

from hfsa_spark.schema import INODES_SCHEMA
from hfsa_spark.extract.pathmat import finalize_inodes, materialize_paths, resolve_paths

MAGIC = b"HDFSIMG1"

# fsimage.proto enum INodeSection.INode.Type
_TYPE = {1: "FILE", 2: "DIRECTORY", 3: "SYMLINK"}

_U64_SIGN = 1 << 63
_U64_WRAP = 1 << 64


def _signed64(v: int) -> int:
    """proto uint64 → Java long two's-complement (unset quota 2^64-1 → -1)."""
    return v - _U64_WRAP if v >= _U64_SIGN else v


# ------------------------------------------------ protobuf wire decoding --


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _iter_fields(buf: bytes):
    """Yield (field_no, value) where value is an int (varint / fixed) or
    bytes (length-delimited). Unknown wire types raise."""
    pos, n = 0, len(buf)
    while pos < n:
        tag, pos = _read_varint(buf, pos)
        field_no, wire = tag >> 3, tag & 7
        if wire == 0:  # varint
            val, pos = _read_varint(buf, pos)
        elif wire == 1:  # fixed64
            val = struct.unpack_from("<Q", buf, pos)[0]
            pos += 8
        elif wire == 2:  # length-delimited
            ln, pos = _read_varint(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        elif wire == 5:  # fixed32
            val = struct.unpack_from("<I", buf, pos)[0]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire} (field {field_no})")
        yield field_no, val


def _packed_varints(val: int | bytes) -> list[int]:
    """repeated uint64/uint32 — packed (bytes) or a single unpacked value."""
    if isinstance(val, int):
        return [val]
    out = []
    pos = 0
    while pos < len(val):
        v, pos = _read_varint(val, pos)
        out.append(v)
    return out


_TRUNCATED = "truncated section: the message at offset {pos} declares {ln} bytes, {left} remain"


def _messages(buf, pos: int = 0) -> Iterator[bytes]:
    """The messages of a section's (decompressed) bytes from ``pos`` on:
    writeDelimitedTo framing (varint length prefix per message)."""
    while pos < len(buf):
        ln, pos = _read_varint(buf, pos)
        if pos + ln > len(buf):
            raise ValueError(_TRUNCATED.format(pos=pos, ln=ln, left=len(buf) - pos))
        yield buf[pos : pos + ln]
        pos += ln


# ------------------------------------------------------- section parsing --


@dataclass
class _Section:
    name: str
    length: int
    offset: int


_USER_CLASS = 1  # SerialNumberManager enum ordinals (GLOBAL=0, USER=1, GROUP=2)
_GROUP_CLASS = 2


@dataclass
class _StringTable:
    mask_bits: int
    entries: dict[int, str] = field(default_factory=dict)

    def get(self, sid: int, cls: int) -> str:
        """Resolve a plain serial from the packed permission long. With
        maskBits (Hadoop 3.x), table entry ids carry the serial CLASS in
        the top maskBits bits of a 32-bit id: (class << (32-maskBits)) |
        serial; maskBits == 0 means one shared table with plain ids."""
        if self.mask_bits:
            sid |= cls << (32 - self.mask_bits)
        return self.entries.get(sid, "") or ""


def _read_footer(path: str) -> tuple[str, list[_Section]]:
    """Codec and section index from the FileSummary footer, read from the
    file head (magic) and tail only: the one FileSummary parser."""
    with open(path, "rb") as f:
        if f.read(len(MAGIC)) != MAGIC:
            raise ValueError("not an fsimage: missing HDFSIMG1 magic header")
        f.seek(-4, os.SEEK_END)
        end = f.tell()
        (summary_len,) = struct.unpack(">i", f.read(4))
        f.seek(end - summary_len)
        summary = f.read(summary_len)
    codec = ""
    sections: list[_Section] = []
    for fno, val in _iter_fields(next(_messages(summary))):
        if fno == 3:
            codec = val.decode("utf-8")
        elif fno == 4:
            name, length, offset = "", 0, 0
            for sfno, sval in _iter_fields(val):
                if sfno == 1:
                    name = sval.decode("utf-8")
                elif sfno == 2:
                    length = sval
                elif sfno == 3:
                    offset = sval
            sections.append(_Section(name, length, offset))
    return codec, sections


def _section(sections: list[_Section], name: str) -> _Section:
    for s in sections:
        if s.name == name:
            return s
    raise KeyError(f"no section {name} in fsimage (have {[s.name for s in sections]})")


class _FileSlice:
    """Bounded read-only file-like over ``[offset, offset+length)`` of a
    file: the input of :func:`_iter_section`. Implements what the stdlib
    decompressor files and :func:`pyarrow.input_stream` need
    (read/readable/closed/close); never reads past the slice end, so a
    decompressor fed from it cannot wander into the next section."""

    def __init__(self, path: str, offset: int, length: int) -> None:
        self._f = open(path, "rb")
        self._f.seek(offset)
        self._remaining = length
        self.closed = False

    def __enter__(self) -> _FileSlice:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def readable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def seekable(self) -> bool:
        return False

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0 or n > self._remaining:
            n = self._remaining
        if n == 0:
            return b""
        data = self._f.read(n)
        self._remaining -= len(data)
        return data

    def close(self) -> None:
        if not self.closed:
            self._f.close()
            self.closed = True


# Bytes per read of compressed input, and per yielded piece of output where
# the decompressor lets the reader choose.
_PIECE = 8 << 20


def _codec_tail(codec: str) -> str:
    """Lower-cased class-name tail of a Hadoop codec class name."""
    return codec.rsplit(".", 1)[-1].lower()


def _iter_section(src, codec: str) -> Iterator[bytes]:
    """Decompress one section read from the bounded reader ``src`` (a
    :class:`_FileSlice`, or ``io.BytesIO``) into an iterator of pieces: the
    one codec dispatch of the read side. It matches Hadoop's factory set
    (`FsImageLoader.java:268`): Gzip, Default (zlib), Lz4, Snappy, BZip2,
    ZStandard, plus the hadoop-lzo plugin's LzoCodec (BlockCompressorStream
    framing over the clean-room LZO1X decoder in ``extract/lzo.py``) and
    LzopCodec (the lzop file container in ``extract/lzop.py``).

    A truncated stream raises. Concatenated gzip and bzip2 members are all
    read, zero padding after a gzip member is skipped and other bytes there
    raise, as in :func:`gzip.decompress`; bytes after a bzip2 stream that
    are no bzip2 stream, and bytes after the one zlib stream, are ignored,
    as in :func:`bz2.decompress` and :func:`zlib.decompress`. An lzop
    container must use up its section exactly."""
    kind = _codec_tail(codec)
    if not kind:
        return _pieces(src)
    if "gzip" in kind:
        return _pieces(gzip.GzipFile(fileobj=src))
    if "default" in kind:  # DefaultCodec = zlib-framed deflate
        return _zlib_pieces(src)
    if "lzop" in kind:
        return _lzop_pieces(src)
    if "lzo" in kind:
        return _block_stream(src, "lzo")
    if "lz4" in kind:
        return _block_stream(src, "lz4_raw")
    if "snappy" in kind:
        return _block_stream(src, "snappy")
    if "bzip2" in kind:  # BZip2Codec writes a standard .bz2 stream
        import bz2

        return _pieces(bz2.BZ2File(src))
    if "zstandard" in kind or "zstd" in kind:  # standard zstd frames
        import pyarrow as pa

        return _pieces(pa.input_stream(src, compression="zstd"))
    raise ValueError(f"unsupported fsimage codec: {codec}")


def _pieces(stream) -> Iterator[bytes]:
    while piece := stream.read(_PIECE):
        yield piece


def _zlib_pieces(src) -> Iterator[bytes]:
    d = zlib.decompressobj()
    while not d.eof and (block := src.read(_PIECE)):
        yield d.decompress(block)
    if not d.eof:
        raise zlib.error("incomplete or truncated DefaultCodec stream")


def _lzop_pieces(src) -> Iterator[bytes]:
    from hfsa_spark.extract.lzop import lzop_blocks

    yield from lzop_blocks(src)
    if src.read(1):
        # hfsa wraps a bounded stream in the codec and never requires it
        # to drain (FsImageLoader.java:268): slack after an lzop end
        # marker is rejected here until a real lzop image shows whether
        # hadoop-lzo ever writes any
        raise ValueError(
            "corrupt lzop section: trailing bytes after the end-of-stream"
            " marker, not consumed by the container"
        )


def _snappy_chunk_size(chunk: bytes) -> int:
    """A raw snappy block self-describes: its first bytes are the
    uncompressed length as a little-endian base-128 varint (public
    snappy format description)."""
    size, shift, pos = 0, 0, 0
    while True:
        if pos >= len(chunk):
            raise ValueError("corrupt snappy chunk: truncated size varint")
        b = chunk[pos]
        pos += 1
        size |= (b & 0x7F) << shift
        if not b & 0x80:
            return size
        shift += 7


def _lz4_chunk_size(chunk: bytes) -> int:
    """Decompressed size of a raw lz4 BLOCK, computed by walking its
    sequence tokens without decompressing (public lz4 block format:
    token = 4-bit literal length | 4-bit match length, each extended by
    255-valued continuation bytes; every sequence but the last ends in
    a 2-byte offset + a match of length+4). Raw lz4 does not embed the
    size, and Hadoop's Lz4Decompressor discovers it from
    LZ4_decompress_safe's return — this walk is the pure-Python
    equivalent, needed because a multi-chunk block's per-chunk sizes
    are NOT derivable from the frame header (pinned by the external
    vectors in tests/test_codec_vectors.py)."""
    pos, total, n = 0, 0, len(chunk)
    try:
        while pos < n:
            token = chunk[pos]
            pos += 1
            lit = token >> 4
            if lit == 15:
                while True:
                    b = chunk[pos]
                    pos += 1
                    lit += b
                    if b != 255:
                        break
            total += lit
            pos += lit
            if pos >= n:
                break  # last sequence carries literals only
            pos += 2  # little-endian match offset
            m = token & 0x0F
            if m == 15:
                while True:
                    b = chunk[pos]
                    pos += 1
                    m += b
                    if b != 255:
                        break
            total += m + 4
    except IndexError:
        raise ValueError("corrupt lz4 chunk: truncated sequence") from None
    return total


def _block_stream(src, arrow_codec: str) -> Iterator[bytes]:
    """Hadoop BlockCompressorStream framing, what Lz4Codec, SnappyCodec and
    hadoop-lzo's LzoCodec ``createInputStream`` expect: repeated blocks of
    ``[origBlockSize int32-BE] [chunkLen int32-BE] [chunk bytes]…``,
    chunks repeating until the block's ``origBlockSize`` bytes are
    produced. Chunk payloads are the codec's RAW block format (no frame
    header): pyarrow's ``lz4_raw`` / ``snappy`` codecs, or the clean-room
    LZO1X decoder (``extract/lzo.py``) for ``"lzo"``. Yields one piece per
    chunk. Fewer than 4 bytes where a block header would start end the
    stream, as in Hadoop's ``BlockDecompressorStream``.

    Each lz4/snappy chunk is decompressed at its EXACT size, derived from
    the chunk bytes themselves: pyarrow requires the size up front, and
    padding it with ``orig - produced`` is only correct for single-chunk
    blocks — for a multi-chunk block it silently appends garbage (pinned
    by tests/test_codec_vectors.py). LZO discovers its own size and is
    capped at the block's remaining bytes mid-decode, since a
    run-length-extended instruction can expand ~255x."""
    if arrow_codec == "lzo":
        from hfsa_spark.extract.lzo import lzo1x_decompress
    else:
        import pyarrow as pa

        c = pa.Codec(arrow_codec)
        chunk_size = _snappy_chunk_size if arrow_codec == "snappy" else _lz4_chunk_size
    pos = 0  # section offset, for the error messages
    while len(head := src.read(4)) == 4:
        (orig,) = struct.unpack(">i", head)
        pos += 4
        produced = 0
        while produced < orig:
            head = src.read(4)
            if len(head) < 4:
                raise ValueError(f"truncated {arrow_codec} block stream at offset {pos}")
            (clen,) = struct.unpack(">i", head)
            pos += 4
            chunk = src.read(clen) if clen > 0 else b""
            if clen < 0 or len(chunk) < clen:
                raise ValueError(
                    f"truncated {arrow_codec} block stream at offset {pos}"
                    f" (chunk length {clen})"
                )
            if arrow_codec == "lzo":
                dec = lzo1x_decompress(chunk, max_size=orig - produced)
            else:
                expect = chunk_size(chunk)
                if produced + expect > orig:
                    raise ValueError(
                        f"corrupt {arrow_codec} block stream: chunk at offset"
                        f" {pos} decompresses past its block"
                    )
                dec = c.decompress(chunk, decompressed_size=expect, asbytes=True)
            pos += clen
            produced += len(dec)
            yield dec


def _read_section(path: str, codec: str, sections: list[_Section], name: str) -> bytes:
    """One whole decompressed section, read by seeking to it."""
    s = _section(sections, name)
    with _FileSlice(path, s.offset, s.length) as src:
        return b"".join(_iter_section(src, codec))


def _parse_string_table(data: bytes) -> _StringTable:
    msgs = _messages(data)
    num_entry, mask_bits = 0, 0
    for fno, val in _iter_fields(next(msgs)):
        if fno == 1:
            num_entry = val
        elif fno == 2:
            mask_bits = val
    table = _StringTable(mask_bits=mask_bits)
    for msg in islice(msgs, num_entry):
        sid, text = 0, ""
        for fno, val in _iter_fields(msg):
            if fno == 1:
                sid = val
            elif fno == 2:
                text = val.decode("utf-8")
        table.entries[sid] = text
    return table


def _parse_inode_references(data: bytes) -> list[int]:
    refs: list[int] = []
    for msg in _messages(data):
        referred = 0
        for fno, val in _iter_fields(msg):
            if fno == 1:
                referred = val
        refs.append(referred)
    return refs


def _read_tables(
    path: str, codec: str, sections: list[_Section]
) -> tuple[_StringTable, list[int]]:
    """The user/group table and the INODE_REFERENCE ids (an image without
    snapshots or renames may carry no such section), which every inode and
    directory entry decode needs."""
    table = _parse_string_table(_read_section(path, codec, sections, "STRING_TABLE"))
    if not any(s.name == "INODE_REFERENCE" for s in sections):
        return table, []
    return table, _parse_inode_references(
        _read_section(path, codec, sections, "INODE_REFERENCE")
    )


def _dir_entries(data, ref_ids: list[int]) -> Iterator[tuple[int, list[int]]]:
    """(parent id, child inode ids) per INODE_DIR entry in ``data``;
    refChildren resolved through the reference table
    (FsImageLoader.java:315-340 semantics)."""
    for msg in _messages(data):
        parent = 0
        children: list[int] = []
        for fno, val in _iter_fields(msg):
            if fno == 1:
                parent = val
            elif fno == 2:
                children.extend(_packed_varints(val))
            elif fno == 3:
                children.extend(ref_ids[r] for r in _packed_varints(val))
        yield parent, children


def _inode_header(buf, pos: int) -> tuple[int, int]:
    """The INodeSection header {lastInodeId, numInodes} at ``pos``:
    (numInodes, offset of the first INode message)."""
    ln, pos = _read_varint(buf, pos)
    num_inodes = 0
    for fno, val in _iter_fields(bytes(buf[pos : pos + ln])):
        if fno == 2:
            num_inodes = val
    return num_inodes, pos + ln


# ACL entry packing (public Hadoop FSImageFormatPBINode layout): bits 0-2
# permission (FsAction ordinal == rwx bits), 3-4 entry type, 5 scope,
# 6-29 name serial. AclFeatureProto carries packed fixed32 entries.
_ACL_TYPES = ["user", "group", "mask", "other"]
_ACL_PERMS = ["---", "--x", "-w-", "-wx", "r--", "r-x", "rw-", "rwx"]


def _packed_fixed32(val: int | bytes) -> list[int]:
    """repeated fixed32 — packed (bytes, 4-byte LE each) or one unpacked."""
    if isinstance(val, int):
        return [val]
    return [v[0] for v in struct.iter_unpack("<I", val)]


def _format_acl_entry(packed: int, table: _StringTable) -> str:
    """One packed ACL int → Hadoop AclEntry.toString() form, e.g.
    "user:bob:rwx" / "default:group:staff:r-x"."""
    perm = packed & 7
    etype = (packed >> 3) & 3
    scope = (packed >> 5) & 1
    nid = (packed >> 6) & 0xFFFFFF
    name = ""
    if nid:
        cls = _GROUP_CLASS if etype == 1 else _USER_CLASS
        name = table.get(nid, cls)
    s = f"{_ACL_TYPES[etype]}:{name}:{_ACL_PERMS[perm]}"
    return f"default:{s}" if scope else s


def _parse_acl_feature(payload: bytes, table: _StringTable) -> list[str]:
    entries: list[str] = []
    for fno, val in _iter_fields(payload):
        if fno == 2:
            entries.extend(_format_acl_entry(v, table) for v in _packed_fixed32(val))
    return entries


def _parse_blocks(val: bytes) -> tuple[int, int, int]:
    block_id = gen_stamp = num_bytes = 0
    for fno, v in _iter_fields(val):
        if fno == 1:
            block_id = v
        elif fno == 2:
            gen_stamp = v
        elif fno == 3:
            num_bytes = v
    return (_signed64(block_id), gen_stamp, num_bytes)


def _parse_inode(msg: bytes, table: _StringTable) -> dict:
    itype, iid, name = 0, 0, b""
    body = None
    for fno, val in _iter_fields(msg):
        if fno == 1:
            itype = val
        elif fno == 2:
            iid = val
        elif fno == 3:
            name = val
        elif fno in (4, 5, 6):
            body = (fno, val)

    row = {
        "id": iid,
        "name": name.decode("utf-8"),
        "type": _TYPE.get(itype, "FILE"),
        "mtime": 0,
        "atime": 0,
        "replication": 0,
        "preferred_block_size": 0,
        "storage_policy_id": 0,
        "ec_policy_id": 0,
        "ns_quota": -1,
        "ds_quota": -1,
        "symlink_target": None,
        "blocks": None,
        "mode": 0,
        "user": "",
        "group": "",
        "acl": [],
    }
    if body is None:
        return row

    kind, payload = body
    permission = 0
    if kind == 4:  # INodeFile
        blocks = []
        for fno, val in _iter_fields(payload):
            if fno == 1:
                row["replication"] = val
            elif fno == 2:
                row["mtime"] = val
            elif fno == 3:
                row["atime"] = val
            elif fno == 4:
                row["preferred_block_size"] = val
            elif fno == 5:
                permission = val
            elif fno == 6:
                blocks.append(_parse_blocks(val))
            elif fno == 8:
                row["acl"] = _parse_acl_feature(val, table)
            elif fno == 10:
                row["storage_policy_id"] = val
            elif fno == 12:
                row["ec_policy_id"] = val
        row["blocks"] = blocks
    elif kind == 5:  # INodeDirectory
        for fno, val in _iter_fields(payload):
            if fno == 1:
                row["mtime"] = val
            elif fno == 2:
                row["ns_quota"] = _signed64(val)
            elif fno == 3:
                row["ds_quota"] = _signed64(val)
            elif fno == 4:
                permission = val
            elif fno == 5:
                row["acl"] = _parse_acl_feature(val, table)
    else:  # INodeSymlink
        for fno, val in _iter_fields(payload):
            if fno == 1:
                permission = val
            elif fno == 2:
                row["symlink_target"] = val.decode("utf-8")
            elif fno == 3:
                row["mtime"] = val
            elif fno == 4:
                row["atime"] = val

    # packed permission long (Hadoop PermissionStatusFormat):
    # bits 0-15 mode, 16-39 group serial, 40-63 user serial
    row["permission_raw"] = permission
    row["mode"] = permission & 0xFFFF
    row["group"] = table.get((permission >> 16) & 0xFFFFFF, _GROUP_CLASS)
    row["user"] = table.get((permission >> 40) & 0xFFFFFF, _USER_CLASS)
    return row


def parse_fsimage(
    path: str, footer: tuple[str, list[_Section]] | None = None
) -> list[dict]:
    """Parse an fsimage file into raw inode row dicts with ``parent_id``
    wired from the directory section (paths NOT yet materialized).
    ``footer`` is :func:`_read_footer`'s result when the caller has read it
    already."""
    codec, sections = footer or _read_footer(path)
    table, ref_ids = _read_tables(path, codec, sections)
    dir_map = dict(
        _dir_entries(_read_section(path, codec, sections, "INODE_DIR"), ref_ids)
    )
    parent_of: dict[int, int] = {}
    for parent, children in dir_map.items():
        for c in children:
            parent_of[c] = parent

    inode_data = _read_section(path, codec, sections, "INODE")
    num_inodes, pos = _inode_header(inode_data, 0)
    rows = []
    for msg in islice(_messages(inode_data, pos), num_inodes):
        row = _parse_inode(msg, table)
        row["parent_id"] = parent_of.get(row["id"])
        rows.append(row)
    return rows


# ------------------------------------------------- distributed decoding --


# Section size from which an LZO section decodes block-parallel.
_LZO_PARALLEL_MIN = 32 << 20


def _scan_lzo_block_stream(
    src: str, offset: int, length: int
) -> tuple[list[tuple[int, int, int, int]], int] | None:
    """Optimistic structural walk of a BlockCompressorStream-framed LZO
    section, ASSUMING one chunk per block — what Hadoop's writer emits
    whenever a block's compressed output fits one compressor buffer,
    i.e. virtually always for LZO (the stream reserves the worst-case
    overhead up front; multi-chunk blocks are the rare overflow edge
    the sequential path handles exactly). Under that assumption block
    boundaries follow from the headers alone, so every block's OUTPUT
    offset is computable without decoding anything.

    Returns ([(file_off, clen, orig, out_off)], total_out) when the
    walk consumes the section exactly, else None (caller falls back to
    the exact sequential decode). A wrong single-chunk guess cannot
    yield silent corruption: the walk would have to land on bytes that
    happen to parse as plausible headers for the REST of the section
    AND every mis-framed chunk would have to decode as a valid LZO1X
    stream of exactly the claimed size with a clean end marker and no
    trailing bytes — any failure routes to the sequential path."""
    specs: list[tuple[int, int, int, int]] = []
    out = 0
    pos, end = offset, offset + length
    with open(src, "rb") as f:
        while pos + 8 <= end:
            f.seek(pos)
            orig, clen = struct.unpack(">ii", f.read(8))
            if orig < 0 or clen <= 0 or pos + 8 + clen > end:
                return None
            specs.append((pos + 8, clen, orig, out))
            out += orig
            pos += 8 + clen
    if pos != end:
        return None
    return specs, out


_LZO_POOL_FDS: dict[str, int] = {}


def _lzo_pool_init(src_path: str, dst_path: str) -> None:
    _LZO_POOL_FDS["src"] = os.open(src_path, os.O_RDONLY)
    _LZO_POOL_FDS["dst"] = os.open(dst_path, os.O_WRONLY)


def _lzo_pool_decode(spec: tuple[int, int, int, int]) -> int:
    from hfsa_spark.extract.lzo import lzo1x_decompress

    file_off, clen, orig, out_off = spec
    chunk = os.pread(_LZO_POOL_FDS["src"], clen, file_off)
    dec = lzo1x_decompress(chunk, expected_size=orig, max_size=orig)
    os.pwrite(_LZO_POOL_FDS["dst"], dec, out_off)
    return orig


def _decompress_lzo_to_file_parallel(
    src: str, offset: int, length: int, dst
) -> int | None:
    """Block-parallel LZO section decode across a local process pool
    (r9 VERDICT stretch #8): the framing scan computes every block's
    output offset up front, the file is pre-extended, and workers
    pread/decode/pwrite independently — ~Ncores× the 14 MB/s
    single-thread floor. Returns None (and leaves ``dst`` untouched)
    whenever the optimistic scan or any worker's validated decode
    rejects the section, so the caller's exact sequential walk decides.

    Driver-local by design: section decompress happens ONCE per
    extract, on the driver, before chunk specs fan out to executors
    (fsimage bytes are ≤ GBs even for 100M-inode namespaces; the
    100 TB data path reads the materialized parquet, never the image).
    """
    import multiprocessing as mp

    scanned = _scan_lzo_block_stream(src, offset, length)
    if scanned is None:
        return None
    specs, total = scanned
    if not specs:
        return 0
    dst.flush()
    base = dst.tell()
    os.ftruncate(dst.fileno(), base + total)
    shifted = [(fo, cl, og, base + oo) for fo, cl, og, oo in specs]
    procs = min(os.cpu_count() or 4, 32, len(shifted))
    # Import the decode module in the PARENT before forking: the driver is
    # a threaded JVM-attached process, and a forked child that touches the
    # import machinery can deadlock on the import lock another driver
    # thread held at fork time. Pre-importing makes the workers' in-child
    # `from hfsa_spark.extract.lzo import ...` a dict lookup, not an import.
    import hfsa_spark.extract.lzo  # noqa: F401

    ctx = mp.get_context("fork")
    try:
        with ctx.Pool(
            procs, initializer=_lzo_pool_init, initargs=(src, dst.name)
        ) as pool:
            done = sum(pool.imap_unordered(_lzo_pool_decode, shifted, 16))
    except ValueError:
        # a chunk failed validated decode: the single-chunk assumption
        # was wrong (or the section is corrupt) — undo the extension and
        # let the exact sequential path produce the authoritative result
        os.ftruncate(dst.fileno(), base)
        dst.seek(base)
        return None
    assert done == total
    dst.seek(base + total)
    return total


def _write_section(path: str, codec: str, s: _Section, dst) -> int:
    """Decompress section ``s`` into the open scratch file ``dst`` at
    constant memory; returns the decompressed byte count.

    Pure-Python LZO1X decodes at ~14 MB/s on instruction-dense streams
    (extract/lzo.py docstring), so an LzoCodec section of at least
    ``_LZO_PARALLEL_MIN`` bytes is decoded block-parallel across a local
    process pool instead; that path hands back to the sequential
    :func:`_iter_section` when its framing scan or any worker's validated
    decode rejects the section."""
    kind = _codec_tail(codec)
    if "lzo" in kind and "lzop" not in kind and s.length >= _LZO_PARALLEL_MIN:
        done = _decompress_lzo_to_file_parallel(path, s.offset, s.length, dst)
        if done is not None:
            return done
    written = 0
    with _FileSlice(path, s.offset, s.length) as src:
        for piece in _iter_section(src, codec):
            dst.write(piece)
            written += len(piece)
    return written


def _scan_chunks(
    buf, start: int, end: int, target_bytes: int, max_msgs: int | None = None
) -> list[tuple[int, int, int]]:
    """Walk delimited-message boundaries (varint length prefix, skip
    payload) and group messages into ~``target_bytes`` chunks. Returns
    [(offset, length, n_msgs)]. This is the only per-message driver work in
    the distributed path: a few byte reads per message, no field decode."""
    chunks: list[tuple[int, int, int]] = []
    pos, chunk_start, n, seen = start, start, 0, 0
    while pos < end and (max_msgs is None or seen < max_msgs):
        ln, pos = _read_varint(buf, pos)
        if pos + ln > end:
            raise ValueError(_TRUNCATED.format(pos=pos, ln=ln, left=end - pos))
        pos += ln
        n += 1
        seen += 1
        if pos - chunk_start >= target_bytes:
            chunks.append((chunk_start, pos - chunk_start, n))
            chunk_start, n = pos, 0
    if n:
        chunks.append((chunk_start, pos - chunk_start, n))
    return chunks


# Sections bigger than this switch load_fsimage to the distributed decode.
_DISTRIBUTED_THRESHOLD = 64 << 20

_CHUNK_DDL = "data_path string, offset bigint, length bigint, n_msgs bigint"
_EDGE_DDL = "parent_id bigint, id bigint"


def _materialize_big_sections(
    path: str, codec: str, sections: list[_Section], names: list[str],
    scratch_dir: str,
) -> tuple[str, dict[str, tuple[int, int]]]:
    """Make the named sections byte-addressable for executor reads.
    Uncompressed: the image itself (zero copy). Compressed: one streaming
    driver-side decompress into an idempotent scratch file (keyed on image
    identity) under ``scratch_dir`` that chunk reads then address."""
    wanted = [_section(sections, n) for n in names]
    if not codec:
        return path, {s.name: (s.offset, s.length) for s in wanted}

    st = os.stat(path)
    key = hashlib.sha1(
        f"{os.path.abspath(path)}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    scratch = os.path.join(scratch_dir, f"hfsa_decomp_{key}")
    meta = scratch + ".meta"
    if os.path.exists(scratch) and os.path.exists(meta):
        with open(meta) as f:
            spans = {
                n: (int(o), int(ln))
                for n, o, ln in (line.split("\t") for line in f.read().splitlines())
            }
        if all(n in spans for n in names):
            return scratch, spans

    spans = {}
    try:
        with open(scratch + ".tmp", "wb") as out:
            cursor = 0
            for s in wanted:
                written = _write_section(path, codec, s, out)
                spans[s.name] = (cursor, written)
                cursor += written
    except BaseException:
        os.remove(scratch + ".tmp")  # a damaged section leaves no partial copy
        raise
    os.replace(scratch + ".tmp", scratch)
    with open(meta + ".tmp", "w") as f:
        f.write("\n".join(f"{n}\t{o}\t{ln}" for n, (o, ln) in spans.items()))
    os.replace(meta + ".tmp", meta)
    return scratch, spans


def _read_chunk(spec) -> bytes:
    with open(spec.data_path, "rb") as f:
        f.seek(spec.offset)
        return f.read(spec.length)


def _decode_inode_chunks(table: _StringTable):
    """mapInPandas decoder: (data_path, offset, length, n_msgs) chunk specs
    → raw inode rows. Runs on executors; ``table`` rides the closure
    (broadcast by task serialization — it is the small user/group dict)."""
    import pandas as pd

    cols = [f for f in _RAW_FIELDS if f != "parent_id"]

    def decode(batches):
        for pdf in batches:
            for spec in pdf.itertuples(index=False):
                rows = []
                for msg in islice(_messages(_read_chunk(spec)), int(spec.n_msgs)):
                    r = _parse_inode(msg, table)
                    r["blocks"] = (
                        None
                        if r["blocks"] is None
                        else [
                            {"block_id": b[0], "gen_stamp": b[1], "num_bytes": b[2]}
                            for b in r["blocks"]
                        ]
                    )
                    rows.append(tuple(r[c] for c in cols))
                yield pd.DataFrame(rows, columns=cols)

    return decode


def _decode_edge_chunks(ref_ids: list[int]):
    """mapInPandas decoder: INODE_DIR chunk specs → (parent_id, id) edges,
    refChildren resolved through the (small, closure-shipped) ref table."""
    import pandas as pd

    def decode(batches):
        for pdf in batches:
            for spec in pdf.itertuples(index=False):
                parents: list[int] = []
                children: list[int] = []
                for parent, kids in _dir_entries(_read_chunk(spec), ref_ids):
                    parents.extend([parent] * len(kids))
                    children.extend(kids)
                yield pd.DataFrame({"parent_id": parents, "id": children})

    return decode


def load_fsimage_distributed(
    spark: SparkSession,
    path: str,
    target_chunk_bytes: int | None = None,
    scratch_dir: str | None = None,
    footer: tuple[str, list[_Section]] | None = None,
) -> DataFrame:
    """fsimage → raw inode DataFrame with executor-parallel message decode
    (module docstring has the design). Returns the same raw columns as the
    driver path; callers run materialize_paths/finalize_inodes on top.

    ``target_chunk_bytes=None`` sizes chunks so every core gets ~3 of them
    (decode cost per byte is uniform, so equal-byte chunks balance well),
    floored at 4 MiB so a huge cluster doesn't shred a small image, capped
    at 128 MiB so one task's bytes always fit executor memory.

    ``scratch_dir=None`` puts a compressed image's decompressed sections in
    the session's ``SparkFiles`` root directory, which Spark deletes when
    the session stops; an explicit ``scratch_dir`` is kept. ``footer`` is
    :func:`_read_footer`'s result when the caller has read it already."""
    codec, sections = footer or _read_footer(path)
    table, ref_ids = _read_tables(path, codec, sections)
    data_path, spans = _materialize_big_sections(
        path, codec, sections, ["INODE", "INODE_DIR"],
        scratch_dir or SparkFiles.getRootDirectory(),
    )

    if target_chunk_bytes is None:
        slots = spark.sparkContext.defaultParallelism * 3
        target_chunk_bytes = min(
            128 << 20, max(4 << 20, spans["INODE"][1] // max(slots, 1))
        )

    with open(data_path, "rb") as f:
        mm = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
    mv = memoryview(mm)
    try:
        ino_off, ino_len = spans["INODE"]
        num_inodes, body_start = _inode_header(mv, ino_off)
        inode_chunks = _scan_chunks(
            mv, body_start, ino_off + ino_len, target_chunk_bytes, max_msgs=num_inodes,
        )
        dir_off, dir_len = spans["INODE_DIR"]
        dir_chunks = _scan_chunks(mv, dir_off, dir_off + dir_len, target_chunk_bytes)
    finally:
        mv.release()
        mm.close()

    def chunk_df(chunks):
        specs = [(data_path, o, ln, n) for o, ln, n in chunks]
        return spark.createDataFrame(specs, schema=_CHUNK_DDL).repartition(
            max(len(specs), 1)
        )

    raw_ddl = ", ".join(
        p for p in _RAW_DDL.split(", ") if not p.startswith("parent_id")
    )
    inodes = chunk_df(inode_chunks).mapInPandas(
        _decode_inode_chunks(table), schema=raw_ddl
    )
    edges = chunk_df(dir_chunks).mapInPandas(
        _decode_edge_chunks(ref_ids), schema=_EDGE_DDL
    )
    return inodes.join(edges, "id", "left").select(*_RAW_FIELDS)


_RAW_FIELDS = [
    "id", "parent_id", "name", "type", "user", "group", "mode", "mtime",
    "atime", "replication", "preferred_block_size", "storage_policy_id",
    "ec_policy_id", "ns_quota", "ds_quota", "symlink_target", "blocks",
]

_RAW_DDL = (
    "id bigint, parent_id bigint, name string, type string, user string,"
    " `group` string, mode int, mtime bigint, atime bigint, replication int,"
    " preferred_block_size bigint, storage_policy_id int, ec_policy_id int,"
    " ns_quota bigint, ds_quota bigint, symlink_target string,"
    " blocks array<struct<block_id:bigint,gen_stamp:bigint,num_bytes:bigint>>"
)


# ------------------------------------------------- inode TextFormat dump --


def _u64(v: int) -> int:
    """signed → protobuf TextFormat's unsigned uint64 rendering."""
    return v + _U64_WRAP if v < 0 else v


def format_inode_proto(row: dict) -> str:
    """Protobuf-TextFormat dump of one parsed inode — the reference's
    `inode` txt report prints `INode.toString()` verbatim
    (InodeInfoCommand.java:95-103; golden InodeInfoCommandTest.java:25-79)."""
    out = [f"type: {row['type']}", f"id: {row['id']}", f'name: "{row["name"]}"']
    perm = row.get("permission_raw", 0)
    if row["type"] == "FILE":
        out.append("file {")
        out.append(f"  replication: {row['replication']}")
        out.append(f"  modificationTime: {row['mtime']}")
        out.append(f"  accessTime: {row['atime']}")
        out.append(f"  preferredBlockSize: {row['preferred_block_size']}")
        out.append(f"  permission: {perm}")
        for b in row["blocks"] or []:
            out.append("  blocks {")
            out.append(f"    blockId: {_u64(b[0])}")
            out.append(f"    genStamp: {b[1]}")
            out.append(f"    numBytes: {b[2]}")
            out.append("  }")
        out.append(f"  storagePolicyID: {row['storage_policy_id']}")
        if row["ec_policy_id"]:
            out.append(f"  erasureCodingPolicyID: {row['ec_policy_id']}")
        out.append("}")
    elif row["type"] == "DIRECTORY":
        out.append("directory {")
        out.append(f"  modificationTime: {row['mtime']}")
        out.append(f"  nsQuota: {_u64(row['ns_quota'])}")
        out.append(f"  dsQuota: {_u64(row['ds_quota'])}")
        out.append(f"  permission: {perm}")
        out.append("}")
    else:
        out.append("symlink {")
        out.append(f"  permission: {perm}")
        out.append(f'  target: "{row["symlink_target"]}"')
        out.append(f"  modificationTime: {row['mtime']}")
        out.append(f"  accessTime: {row['atime']}")
        out.append("}")
    return "\n".join(out) + "\n"


def _index_rows(rows: list[dict]) -> tuple[dict, dict]:
    """(by_id, by_path) lookup indexes over parsed raw rows. A row whose
    path does not resolve (orphan, dangling parent, cycle) is reachable by id only,
    as it is absent from the loaded table."""
    by_id = {r["id"]: r for r in rows}
    by_path = {full_path: rows[i]["id"] for i, _, full_path, _ in resolve_paths(rows)}
    return by_id, by_path


def _resolve_ref(by_id: dict, by_path: dict, ref: str) -> dict | None:
    sref = str(ref)
    if sref.isdigit():
        return by_id.get(int(sref))
    norm = "/" + "/".join(s for s in sref.split("/") if s) if sref != "/" else "/"
    rid = by_path.get(norm)
    return by_id.get(rid) if rid is not None else None


def inode_text_dump(path: str, refs: list[str]) -> str:
    """The `inode` report's txt output for a binary image: each ref (inode
    id or absolute path) resolved and dumped in TextFormat, arg order
    preserved, one blank line after each (println of toString)."""
    by_id, by_path = _index_rows(parse_fsimage(path))
    out = []
    for ref in refs:
        row = _resolve_ref(by_id, by_path, ref)
        if row is None:
            out.append(f"No inode found for {ref}\n")
        else:
            out.append(format_inode_proto(row) + "\n")
    return "".join(out)


def get_acl_entries(path: str, ref: str) -> list[str]:
    """ACL entries of one inode (by absolute path or id), as Hadoop
    AclEntry.toString() strings. Parity: the reference's getAclEntryList
    (FsImageData.java:219-234) — files and directories carry ACLs, other
    types yield []. Raises KeyError for a missing inode (the reference
    throws FileNotFoundException)."""
    by_id, by_path = _index_rows(parse_fsimage(path))
    row = _resolve_ref(by_id, by_path, ref)
    if row is None:
        raise KeyError(f"no inode for {ref}")
    return list(row.get("acl") or [])


def get_acl_status(path: str, ref: str) -> dict:
    """AclStatus of one inode: owner, group, sticky bit, ACL entries —
    the reference's getAclStatus (FsImageData.java:208-217) as a plain
    dict (it builds Hadoop's AclStatus; the fields are identical)."""
    by_id, by_path = _index_rows(parse_fsimage(path))
    row = _resolve_ref(by_id, by_path, ref)
    if row is None:
        raise KeyError(f"no inode for {ref}")
    return {
        "owner": row["user"],
        "group": row["group"],
        "stickyBit": bool((row["mode"] >> 9) & 1),
        "entries": list(row.get("acl") or []),
        "permission": format(row["mode"] & 0o777, "o").zfill(3),
    }


def load_fsimage(
    spark: SparkSession,
    path: str,
    distributed: bool | None = None,
    target_chunk_bytes: int | None = None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """fsimage file → canonical ``inodes`` DataFrame: wire parse (executor-
    parallel for big images — see module docstring; ``distributed=None``
    auto-selects on INODE section size), path materialization (driver-side
    ``resolve_paths`` on the driver route, the ``materialize_paths``
    level-join on the distributed one) + derived size columns."""
    footer = _read_footer(path)
    if distributed is None:
        ino = next((s.length for s in footer[1] if s.name == "INODE"), 0)
        distributed = ino >= _DISTRIBUTED_THRESHOLD
    if distributed:
        raw = load_fsimage_distributed(
            spark, path, target_chunk_bytes=target_chunk_bytes,
            scratch_dir=scratch_dir, footer=footer,
        )
        inodes = materialize_paths(raw)
    else:
        rows = parse_fsimage(path, footer=footer)
        inodes = spark.createDataFrame(
            [
                tuple(rows[i][f] for f in _RAW_FIELDS) + (p, full_path, depth)
                for i, p, full_path, depth in resolve_paths(rows)
            ],
            schema=_RAW_DDL + ", path string, full_path string, depth int",
        )
    return finalize_inodes(inodes).select([f.name for f in INODES_SCHEMA.fields])


def load_fsimage_series(
    spark: SparkSession, images: list[tuple[int, str]]
) -> DataFrame:
    """A time series of fsimages → one DataFrame with a ``snapshot_ts``
    column: the batch table behind the snapshot growth/delta reports
    (streaming/snapshots.py) and the natural layout for a partitioned
    history table (SURVEY.md §1.3: successive immutable snapshots are a
    partitioned table, not a stream). ``images`` is [(snapshot_ts, path)].
    """
    from functools import reduce

    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import functions as F

    frames = [
        load_fsimage(spark, p).withColumn("snapshot_ts", F.lit(ts).cast("long"))
        for ts, p in images
    ]
    return reduce(_DF.unionByName, frames)
