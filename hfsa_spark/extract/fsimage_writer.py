"""Binary fsimage writer — the inverse of extract/fsimage.py's decoder.

Parity target: the reference's test-image generator
(/root/reference lib/.../util/FsImageGenerator.java — behavior only; this
is an independent encoder built from the same public format knowledge:
Hadoop's fsimage.proto / HDFS-5698). Used for (a) round-trip parity tests
of the decoder and (b) synthesizing multi-million-inode images for the
distributed-decode throughput probe (BASELINE.md, "distributed fsimage decode") —
the reference generator exists for exactly that scale test
(FsImageGenerator.java:47-53).

Layout written: HDFSIMG1 magic, then STRING_TABLE / INODE / INODE_DIR
sections (optionally codec-compressed, like Hadoop's optional
DefaultCodec), then a delimited FileSummary footer + 4-byte big-endian
summary length. The writer streams: rows are encoded one message at a
time into the open file, so a 100M-inode image needs O(#dirs) memory
(the child map), not O(bytes).
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterable, Iterator

from hfsa_spark.extract.fsimage import MAGIC, _ACL_PERMS, _ACL_TYPES

_TYPE_NO = {"FILE": 1, "DIRECTORY": 2, "SYMLINK": 3}
_U64_WRAP = 1 << 64


def _u64(v: int) -> int:
    return v + _U64_WRAP if v < 0 else v


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _field(no: int, v: int) -> bytes:
    return _varint(no << 3) + _varint(v)


def _bytes_field(no: int, v: bytes) -> bytes:
    return _varint((no << 3) | 2) + _varint(len(v)) + v


def _delimited(msg: bytes) -> bytes:
    return _varint(len(msg)) + msg


def _acl_names(rows: Iterable[dict]):
    for r in rows:
        for s in r.get("acl") or []:
            parts = s.split(":")
            if parts[0] == "default":
                parts = parts[1:]
            if parts[1]:
                yield parts[1]


def _pack_acl_entry(s: str, sid_of: dict[str, int]) -> int:
    """"[default:]type:name:rwx" → the packed Hadoop ACL int (the exact
    inverse of fsimage._format_acl_entry)."""
    parts = s.split(":")
    scope = 0
    if parts[0] == "default":
        scope = 1
        parts = parts[1:]
    etype = _ACL_TYPES.index(parts[0])
    perm = _ACL_PERMS.index(parts[2])
    nid = sid_of.get(parts[1], 0) if parts[1] else 0
    return (nid << 6) | (scope << 5) | (etype << 3) | perm


def _acl_feature(row: dict, sid_of: dict[str, int]) -> bytes:
    packed = b"".join(
        struct.pack("<I", _pack_acl_entry(s, sid_of)) for s in row["acl"]
    )
    return _bytes_field(2, packed)


def _encode_inode(row: dict, sid_of: dict[str, int]) -> bytes:
    """One INodeSection.INode message. ``row`` is the decoder's raw dict
    shape (extract/fsimage.py::_parse_inode)."""
    perm = (
        (sid_of[row.get("user", "")] << 40)
        | (sid_of[row.get("group", "")] << 16)
        | (row.get("mode", 0) & 0xFFFF)
    )
    t = row.get("type", "FILE")
    body = bytearray()
    if t == "FILE":
        if row.get("replication"):
            body += _field(1, row["replication"])
        body += _field(2, row.get("mtime", 0))
        body += _field(3, row.get("atime", 0))
        body += _field(4, row.get("preferred_block_size", 0))
        body += _field(5, perm)
        for b in row.get("blocks") or []:
            blk = _field(1, _u64(b[0])) + _field(2, b[1]) + _field(3, b[2])
            body += _bytes_field(6, blk)
        if row.get("acl"):
            body += _bytes_field(8, _acl_feature(row, sid_of))
        if row.get("storage_policy_id"):
            body += _field(10, row["storage_policy_id"])
        if row.get("ec_policy_id"):
            body += _field(12, row["ec_policy_id"])
        body_no = 4
    elif t == "DIRECTORY":
        body += _field(1, row.get("mtime", 0))
        body += _field(2, _u64(row.get("ns_quota", -1)))
        body += _field(3, _u64(row.get("ds_quota", -1)))
        body += _field(4, perm)
        if row.get("acl"):
            body += _bytes_field(5, _acl_feature(row, sid_of))
        body_no = 5
    else:
        body += _field(1, perm)
        body += _bytes_field(2, (row.get("symlink_target") or "").encode())
        body += _field(3, row.get("mtime", 0))
        body += _field(4, row.get("atime", 0))
        body_no = 6

    msg = (
        _field(1, _TYPE_NO[t])
        + _field(2, row["id"])
        + _bytes_field(3, row.get("name", "").encode())
        + _bytes_field(body_no, bytes(body))
    )
    return _delimited(msg)


class _SectionWriter:
    """Accumulate a section (optionally compressed) and record its span.

    Codec framing mirrors what Hadoop's ``codec.createOutputStream``
    produces for each factory codec, so writer-generated fixtures decode
    through the same path a real compressed image would: Gzip/Default =
    one zlib stream (wbits 31/15); Lz4/Snappy/Lzo = BlockCompressorStream
    framing (``[origBlockSize BE][chunkLen BE][raw chunk]`` per ≤256 KiB
    block — the default io.compression.codec.*.buffersize); BZip2 = a
    standard .bz2 stream; ZStandard = a standard zstd frame."""

    BLOCK = 256 * 1024

    def __init__(self, f, codec: str):
        self._f = f
        self._codec = codec
        self._comp = None
        self._mode = ""
        self._buf = bytearray()
        self._start = 0

    def open(self):
        self._start = self._f.tell()
        self._buf = bytearray()
        if not self._codec:
            self._mode = ""
        elif "Lz4" in self._codec or "Snappy" in self._codec:
            import pyarrow as pa

            self._mode = "block"
            self._comp = pa.Codec(
                "lz4_raw" if "Lz4" in self._codec else "snappy"
            )
        elif "Lzop" in self._codec:
            # hadoop-lzo LzopCodec: the standalone lzop FILE format
            # (magic/header/checksummed blocks, extract/lzop.py)
            from hfsa_spark.extract.lzop import LzopWriter

            self._mode = "lzop"
            self._comp = LzopWriter(self._f)
        elif "Lzo" in self._codec:
            # hadoop-lzo LzoCodec: same BlockCompressorStream framing,
            # chunks are valid literal-only LZO1X streams (clean-room
            # encoder, extract/lzo.py)
            from hfsa_spark.extract.lzo import LzoLiteralCompressor

            self._mode = "block"
            self._comp = LzoLiteralCompressor()
        elif "BZip2" in self._codec:
            import bz2

            self._mode = "stream"
            self._comp = bz2.BZ2Compressor()
        elif "ZStandard" in self._codec:
            self._mode = "buffer"  # one zstd frame emitted at close
        else:
            # GzipCodec = gzip framing (wbits 31); DefaultCodec = zlib (15)
            self._mode = "zlib"
            self._comp = zlib.compressobj(
                wbits=31 if "Gzip" in self._codec else 15
            )

    def _emit_block(self, block: bytes):
        chunk = self._comp.compress(block, asbytes=True)
        self._f.write(struct.pack(">i", len(block)))
        self._f.write(struct.pack(">i", len(chunk)))
        self._f.write(chunk)

    def write(self, data: bytes):
        if self._mode in ("zlib", "stream"):
            self._f.write(self._comp.compress(data))
        elif self._mode == "lzop":
            self._comp.write(data)
        elif self._mode == "block":
            self._buf += data
            while len(self._buf) >= self.BLOCK:
                self._emit_block(bytes(self._buf[: self.BLOCK]))
                del self._buf[: self.BLOCK]
        elif self._mode == "buffer":
            self._buf += data
        else:
            self._f.write(data)

    def close(self) -> tuple[int, int]:
        if self._mode in ("zlib", "stream"):
            self._f.write(self._comp.flush())
        elif self._mode == "lzop":
            self._comp.close()
        elif self._mode == "block":
            if self._buf:
                self._emit_block(bytes(self._buf))
        elif self._mode == "buffer":
            import pyarrow as pa

            self._f.write(pa.Codec("zstd").compress(bytes(self._buf), asbytes=True))
        self._comp = None
        self._buf = bytearray()
        return self._start, self._f.tell() - self._start


def write_fsimage(
    path: str,
    rows: Iterable[dict] | Iterator[dict],
    codec: str | None = None,
    string_table: list[str] | None = None,
    num_inodes: int | None = None,
    last_inode_id: int | None = None,
) -> None:
    """Encode raw inode dicts (decoder shape: id, parent_id, name, type,
    user, group, mode, mtime, atime, replication, preferred_block_size,
    storage_policy_id, ec_policy_id, ns_quota, ds_quota, symlink_target,
    blocks=[(block_id, gen_stamp, num_bytes)]) into a binary fsimage.

    ``codec`` of None writes uncompressed; "default" / "gzip" / "lz4" /
    "snappy" / "bzip2" / "zstd" / "lzo" (or the full Hadoop codec class
    name) compresses sections with the same framing Hadoop's codec
    factory produces (see :class:`_SectionWriter`).

    Section headers precede their rows (and compressed sections cannot be
    back-patched), so the string table and inode count must be known before
    encoding starts. Pass ``string_table`` (all user+group names),
    ``num_inodes`` and ``last_inode_id`` to stream a one-pass generator with
    O(#inodes) small-int memory (the dir child map only) — the 100M-inode
    path. Omit them and the writer buffers the rows to derive all three.
    """
    streaming = string_table is not None and num_inodes is not None
    if streaming:
        first_pass = rows  # single pass, never materialized
        names = set(string_table)
    else:
        first_pass = list(rows)
        names = {r.get("user", "") for r in first_pass} | {
            r.get("group", "") for r in first_pass
        }
        names.update(_acl_names(first_pass))
        num_inodes = len(first_pass)
        last_inode_id = max((r["id"] for r in first_pass), default=0)

    sid_of = {name: i + 1 for i, name in enumerate(sorted(names))}

    codec_name = ""
    if codec:
        lower = codec.lower()
        if "gzip" in lower:
            codec_name = "org.apache.hadoop.io.compress.GzipCodec"
        elif "lz4" in lower:
            codec_name = "org.apache.hadoop.io.compress.Lz4Codec"
        elif "snappy" in lower:
            codec_name = "org.apache.hadoop.io.compress.SnappyCodec"
        elif "lzop" in lower:
            codec_name = "com.hadoop.compression.lzo.LzopCodec"
        elif "lzo" in lower:
            codec_name = "com.hadoop.compression.lzo.LzoCodec"
        elif "bzip2" in lower:
            codec_name = "org.apache.hadoop.io.compress.BZip2Codec"
        elif "zstandard" in lower or "zstd" in lower:
            codec_name = "org.apache.hadoop.io.compress.ZStandardCodec"
        else:
            codec_name = "org.apache.hadoop.io.compress.DefaultCodec"

    sections: list[tuple[str, int, int]] = []
    with open(path, "wb") as f:
        f.write(MAGIC)
        w = _SectionWriter(f, codec_name)

        w.open()
        header = _field(1, len(sid_of)) + _field(2, 0)  # numEntry, maskBits=0
        w.write(_delimited(header))
        for name, sid in sid_of.items():
            w.write(_delimited(_field(1, sid) + _bytes_field(2, name.encode())))
        off, ln = w.close()
        sections.append(("STRING_TABLE", ln, off))

        w.open()
        w.write(_delimited(_field(1, last_inode_id) + _field(2, num_inodes)))
        children: dict[int, list[int]] = {}
        for r in first_pass:
            w.write(_encode_inode(r, sid_of))
            p = r.get("parent_id")
            if p is not None:
                children.setdefault(p, []).append(r["id"])
        off, ln = w.close()
        sections.append(("INODE", ln, off))

        w.open()
        for parent in sorted(children):
            kids = b"".join(_varint(c) for c in sorted(children[parent]))
            w.write(_delimited(_field(1, parent) + _bytes_field(2, kids)))
        off, ln = w.close()
        sections.append(("INODE_DIR", ln, off))

        summary = _field(1, 1) + _field(2, _u64(-66))  # ondiskVersion, layout
        if codec_name:
            summary += _bytes_field(3, codec_name.encode())
        for name, ln, off in sections:
            sec = _bytes_field(1, name.encode()) + _field(2, ln) + _field(3, off)
            summary += _bytes_field(4, sec)
        framed = _delimited(summary)
        f.write(framed)
        f.write(struct.pack(">i", len(framed)))
