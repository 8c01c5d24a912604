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

One reader, two schedulers. Every section is read the same way: the
footer (:func:`_read_footer`) gives its offset and length, and
:func:`_decompress_stream` decodes that bounded slice of the image
through the footer's codec, writing through a callback — into memory
(:func:`_read_section`) or into a scratch file
(:func:`_decompress_to_file`) — as the reference reads every section
through one codec-wrapped stream (FsImageLoader.java:268). With no codec
a section read is a plain read. Messages are split by one framing loop
(:func:`_messages`) and decoded by the same functions
(:func:`_parse_inode`, :func:`_parse_dir_entry`) on either schedule:

* driver (:func:`parse_fsimage`; ``load_fsimage`` picks it below
  ``_DISTRIBUTED_THRESHOLD`` INODE bytes): every section is read by seek
  and decoded in one pass; parents come from a ``parent_of`` dict.
* distributed (:func:`load_fsimage_distributed`): the driver decodes the
  small sections and walks only the varint length prefixes of the INODE /
  INODE_DIR sections (read length, skip payload) to emit byte-range chunk
  specs; executors decode the chunks in parallel via Arrow
  ``mapInPandas``, and parents are wired by a join against the decoded
  (parent, child) edges — no O(#inodes) driver dict. A compressed image
  (gzip / DefaultCodec are not splittable) is decompressed once,
  driver-side at constant memory, into a scratch file that the chunk
  reads then address; large LZO sections decode block-parallel on a
  local process pool. In cluster mode point ``scratch_dir`` at storage
  every executor can read.
"""

from __future__ import annotations

import hashlib
import io
import mmap
import os
import struct
import tempfile
import zlib
from dataclasses import dataclass, field
from itertools import islice
from typing import BinaryIO, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from hfsa_spark.schema import INODES_SCHEMA
from hfsa_spark.extract.pathmat import finalize_inodes, materialize_paths

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


def _messages(data: bytes) -> Iterator[bytes]:
    """writeDelimitedTo framing: each message of a section's (decompressed)
    bytes, in order, without its varint length prefix."""
    pos, n = 0, len(data)
    while pos < n:
        ln, pos = _read_varint(data, pos)
        yield data[pos : pos + ln]
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
    """Parse codec + section index from the FileSummary footer by reading
    only the file head (magic) and tail — no full-image read."""
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


# ------------------------------------------------------ section decoding --

_READ = 8 << 20  # streaming read size


class _Slice:
    """Bounded read-only file-like over the next ``length`` bytes of an
    open binary file. Every section decoder reads through one, so none can
    wander into the next fsimage section. Implements just what
    :func:`pyarrow.input_stream` needs to wrap a raw Python stream
    (read/readable/closed/close); closing it leaves the file open."""

    def __init__(self, f: BinaryIO, length: int) -> None:
        self._f = f
        self.remaining = length
        self.closed = False

    def readable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def seekable(self) -> bool:
        return False

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0 or n > self.remaining:
            n = self.remaining
        data = self._f.read(n) if n else b""
        self.remaining -= len(data)
        return data

    def close(self) -> None:
        self.closed = True


def _copy(src, write: Callable[[bytes], object]) -> int:
    n = 0
    while block := src.read(_READ):
        write(block)
        n += len(block)
    return n


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


def _block_stream(src: _Slice, write: Callable[[bytes], object], codec: str) -> int:
    """Hadoop BlockCompressorStream framing — what Lz4Codec and
    SnappyCodec's ``createInputStream`` expects: repeated blocks of
    ``[origBlockSize int32-BE] [chunkLen int32-BE] [chunk bytes]…``,
    chunks repeating until the block's ``origBlockSize`` bytes are
    produced. Chunk payloads are the codec's RAW block format (no frame
    header) — pyarrow's ``lz4_raw`` / ``snappy`` codecs, or the
    clean-room LZO1X decoder (``extract/lzo.py``) for the hadoop-lzo
    plugin's ``LzoCodec`` (same BlockCompressorStream framing).

    Each lz4/snappy chunk is decompressed at its EXACT size, derived from
    the chunk bytes themselves: pyarrow requires the size up front, and
    padding it with ``orig - produced`` is only correct for single-chunk
    blocks — for a multi-chunk block it silently appends garbage (pinned
    by tests/test_codec_vectors.py). Either way a chunk that would
    decompress past its block raises before its output is made."""
    if codec == "lzo":
        from hfsa_spark.extract.lzo import lzo1x_decompress

        # max_size aborts mid-decode: a run-length-extended instruction
        # can expand ~255x, so cap BEFORE the copy
        def decode(chunk: bytes, room: int) -> bytes:
            return lzo1x_decompress(chunk, max_size=room)
    else:
        import pyarrow as pa

        c = pa.Codec(codec)
        chunk_size = _snappy_chunk_size if codec == "snappy" else _lz4_chunk_size

        def decode(chunk: bytes, room: int) -> bytes:
            size = chunk_size(chunk)
            if size > room:
                raise ValueError(
                    f"corrupt {codec} block stream: chunk decompresses"
                    " past its block"
                )
            return c.decompress(chunk, decompressed_size=size, asbytes=True)

    pos = 0

    def take(n: int) -> bytes:
        nonlocal pos
        data = src.read(n)
        if len(data) != n:
            raise ValueError(f"truncated {codec} block stream at offset {pos}")
        pos += n
        return data

    total = 0
    while src.remaining:
        (orig,) = struct.unpack(">i", take(4))
        if orig < 0:
            raise ValueError(
                f"corrupt {codec} block stream: block length {orig}"
                f" at offset {pos - 4}"
            )
        produced = 0
        while produced < orig:
            (clen,) = struct.unpack(">i", take(4))
            if clen < 0:
                raise ValueError(
                    f"truncated {codec} block stream at offset {pos}"
                    f" (chunk length {clen})"
                )
            dec = decode(take(clen), orig - produced)
            write(dec)
            produced += len(dec)
        total += orig
    return total


def _inflate_members(
    src: _Slice, write: Callable[[bytes], object], new, codec: str
) -> int:
    """Stream codecs (gzip, zlib, bzip2): decode concatenated streams,
    each through a fresh ``new()`` decompressor, until the section ends.
    Bytes after a stream's end marker must start another stream (the
    decompressor raises on anything else); a section that ends inside a
    stream raises here."""
    d, n = None, 0
    while block := src.read(_READ):
        while block:
            if d is None:
                d = new()
            out = d.decompress(block)
            write(out)
            n += len(out)
            block = b""
            if d.eof:
                block, d = d.unused_data, None
    if d is not None:
        raise ValueError(
            f"truncated {codec} section: it ends before its end-of-stream marker"
        )
    return n


def _decompress_stream(
    f: BinaryIO, length: int, write: Callable[[bytes], object], codec: str
) -> int:
    """The one codec dispatch: decode the section in the next ``length``
    bytes of ``f`` through ``codec`` (the footer's Hadoop codec class
    name, "" for none), emitting the output through ``write``; returns
    the output byte count. Accept-anything set matching Hadoop's factory
    (`FsImageLoader.java:268`): Gzip, Default (zlib), Lz4, Snappy,
    BZip2, ZStandard — plus the hadoop-lzo plugin's LzoCodec via a
    clean-room LZO1X decoder written from the public stream format
    (``extract/lzo.py``; no GPL code used or linked) and its LzopCodec
    via the lzop FILE-format container on the same decoder
    (``extract/lzop.py``).

    Strict about where a section ends, for every codec: a section that
    ends before its end-of-stream marker raises; concatenated gzip
    members, zlib, bzip2 and zstd streams are all decoded (as Java's
    GZIPInputStream does); bytes after the last stream that do not start
    another stream raise, and so does a section the codec leaves
    unconsumed. Compat risk: the reference wraps a bounded stream in the
    codec and never requires the codec to drain it — a real image whose
    section carried slack after its end marker would be rejected here.
    Kept strict deliberately until a real-image corpus shows such slack.
    """
    lower = codec.rsplit(".", 1)[-1].lower()  # class-name tail
    src = _Slice(f, length)
    if not codec:
        n = _copy(src, write)
    elif "gzip" in lower:
        n = _inflate_members(src, write, lambda: zlib.decompressobj(wbits=31), lower)
    elif "default" in lower:  # DefaultCodec = zlib-framed deflate
        n = _inflate_members(src, write, zlib.decompressobj, lower)
    elif "lzop" in lower:  # hadoop-lzo LzopCodec: lzop file framing + LZO1X
        from hfsa_spark.extract.lzop import lzop_decompress_file

        # the lzop container is self-delimiting (0-length end block) and
        # the reader holds one ≤64 MiB block at a time
        n = lzop_decompress_file(src, write)
    elif "lzo" in lower:  # hadoop-lzo LzoCodec: BlockCompressorStream + LZO1X
        n = _block_stream(src, write, "lzo")
    elif "lz4" in lower:
        n = _block_stream(src, write, "lz4_raw")
    elif "snappy" in lower:
        n = _block_stream(src, write, "snappy")
    elif "bzip2" in lower:  # BZip2Codec writes a standard .bz2 stream
        import bz2

        n = _inflate_members(src, write, bz2.BZ2Decompressor, lower)
    elif "zstandard" in lower or "zstd" in lower:  # standard zstd frames
        import pyarrow as pa

        # pyarrow has no incremental zstd decompressor object; its
        # input_stream decodes concatenated frames and raises on a
        # truncated frame or on trailing bytes
        n = _copy(pa.input_stream(src, compression="zstd"), write)
    else:
        raise ValueError(f"unsupported fsimage codec: {codec}")
    if src.remaining:
        raise ValueError(
            f"corrupt {lower or 'uncompressed'} section: consumed"
            f" {length - src.remaining} of {length} section bytes"
        )
    return n


def _decompress(codec: str, data: bytes) -> bytes:
    """One whole in-memory section through :func:`_decompress_stream`."""
    if not codec:
        return data
    out = bytearray()
    _decompress_stream(io.BytesIO(data), len(data), out.extend, codec)
    return bytes(out)


def _read_section(path: str, codec: str, sections: list[_Section], name: str) -> bytes:
    """Read + decompress ONE section by seeking."""
    for s in sections:
        if s.name == name:
            with open(path, "rb") as f:
                f.seek(s.offset)
                return _decompress(codec, f.read(s.length))
    raise KeyError(f"no section {name} in fsimage (have {[s.name for s in sections]})")


# ------------------------------------------------------- message decoding --


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
    """The small sections both schedules decode on the driver: the string
    table and the INODE_REFERENCE ids (absent in images without
    snapshots or renames)."""
    table = _parse_string_table(_read_section(path, codec, sections, "STRING_TABLE"))
    try:
        ref_ids = _parse_inode_references(
            _read_section(path, codec, sections, "INODE_REFERENCE")
        )
    except KeyError:
        ref_ids = []
    return table, ref_ids


def _parse_dir_entry(msg: bytes, ref_ids: list[int]) -> tuple[int, list[int]]:
    """One INODE_DIR message → (parent id, child inode ids); refChildren
    resolved through the reference table (FsImageLoader.java:315-340
    semantics)."""
    parent = 0
    children: list[int] = []
    for fno, val in _iter_fields(msg):
        if fno == 1:
            parent = val
        elif fno == 2:
            children.extend(_packed_varints(val))
        elif fno == 3:
            children.extend(ref_ids[r] for r in _packed_varints(val))
    return parent, children


def _num_inodes(header: bytes) -> int:
    """numInodes of the INODE section header {lastInodeId, numInodes}."""
    return next((val for fno, val in _iter_fields(header) if fno == 2), 0)


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


def parse_fsimage(path: str) -> list[dict]:
    """Parse an fsimage file into raw inode row dicts with ``parent_id``
    wired from the directory section (paths NOT yet materialized) — the
    driver schedule: each section read by seek, decoded in one pass."""
    codec, sections = _read_footer(path)
    table, ref_ids = _read_tables(path, codec, sections)

    parent_of: dict[int, int] = {}
    for msg in _messages(_read_section(path, codec, sections, "INODE_DIR")):
        parent, children = _parse_dir_entry(msg, ref_ids)
        for c in children:
            parent_of[c] = parent

    msgs = _messages(_read_section(path, codec, sections, "INODE"))
    num_inodes = _num_inodes(next(msgs))
    rows = []
    for msg in islice(msgs, num_inodes):
        row = _parse_inode(msg, table)
        row["parent_id"] = parent_of.get(row["id"])
        rows.append(row)
    return rows


# ------------------------------------------------- distributed decoding --

# Section size above which LZO decode goes block-parallel.
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


def _decompress_to_file(
    src: str, offset: int, length: int, dst, codec: str = ""
) -> int:
    """Streaming decompress (constant memory) of one section of ``src``
    into an open scratch file through :func:`_decompress_stream`; returns
    the decompressed byte count."""
    lower = codec.rsplit(".", 1)[-1].lower()
    if "lzo" in lower and "lzop" not in lower and length >= _LZO_PARALLEL_MIN:
        # pure-Python LZO1X decodes at ~14 MB/s on instruction-dense
        # streams (extract/lzo.py docstring) — a multi-GB section would
        # stall the driver for minutes on the sequential path. Decode
        # block-parallel across a local process pool instead; falls
        # back to the exact sequential walk when the optimistic framing
        # scan or any worker's validated decode rejects the section.
        done = _decompress_lzo_to_file_parallel(src, offset, length, dst)
        if done is not None:
            return done
    with open(src, "rb") as f:
        f.seek(offset)
        return _decompress_stream(f, length, dst.write, codec)


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
    scratch_dir: str | None,
) -> tuple[str, dict[str, tuple[int, int]]]:
    """Make the named sections byte-addressable for executor reads.
    Uncompressed: the image itself (zero copy). Compressed: one streaming
    driver-side decompress into an idempotent scratch file (keyed on image
    identity) that chunk reads then address."""
    by_name = {s.name: s for s in sections}
    if not codec:
        return path, {n: (by_name[n].offset, by_name[n].length) for n in names}

    st = os.stat(path)
    key = hashlib.sha1(
        f"{os.path.abspath(path)}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    scratch = os.path.join(scratch_dir or tempfile.gettempdir(), f"hfsa_decomp_{key}")
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
    with open(scratch + ".tmp", "wb") as out:
        cursor = 0
        for n in names:
            s = by_name[n]
            written = _decompress_to_file(path, s.offset, s.length, out, codec)
            spans[n] = (cursor, written)
            cursor += written
    os.replace(scratch + ".tmp", scratch)
    with open(meta + ".tmp", "w") as f:
        f.write("\n".join(f"{n}\t{o}\t{ln}" for n, (o, ln) in spans.items()))
    os.replace(meta + ".tmp", meta)
    return scratch, spans


def _chunk_messages(spec) -> Iterator[bytes]:
    """The messages of one (data_path, offset, length, n_msgs) chunk spec."""
    with open(spec.data_path, "rb") as f:
        f.seek(spec.offset)
        data = f.read(spec.length)
    return islice(_messages(data), int(spec.n_msgs))


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
                for msg in _chunk_messages(spec):
                    r = _parse_inode(msg, table)
                    if r["blocks"] is not None:
                        r["blocks"] = [
                            {"block_id": b[0], "gen_stamp": b[1], "num_bytes": b[2]}
                            for b in r["blocks"]
                        ]
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
                for msg in _chunk_messages(spec):
                    parent, kids = _parse_dir_entry(msg, ref_ids)
                    parents.extend([parent] * len(kids))
                    children.extend(kids)
                yield pd.DataFrame({"parent_id": parents, "id": children})

    return decode


def load_fsimage_distributed(
    spark: SparkSession,
    path: str,
    target_chunk_bytes: int | None = None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """fsimage → raw inode DataFrame with executor-parallel message decode
    (module docstring has the design). Returns the same raw columns as the
    driver path; callers run materialize_paths/finalize_inodes on top.

    ``target_chunk_bytes=None`` sizes chunks so every core gets ~3 of them
    (decode cost per byte is uniform, so equal-byte chunks balance well),
    floored at 4 MiB so a huge cluster doesn't shred a small image, capped
    at 128 MiB so one task's bytes always fit executor memory."""
    codec, sections = _read_footer(path)
    table, ref_ids = _read_tables(path, codec, sections)

    data_path, spans = _materialize_big_sections(
        path, codec, sections, ["INODE", "INODE_DIR"], scratch_dir
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
        header_len, body_start = _read_varint(mv, ino_off)
        num_inodes = _num_inodes(bytes(mv[body_start : body_start + header_len]))
        inode_chunks = _scan_chunks(
            mv, body_start + header_len, ino_off + ino_len,
            target_chunk_bytes, max_msgs=num_inodes,
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
    """(by_id, by_path) lookup indexes over parsed raw rows."""
    by_id = {r["id"]: r for r in rows}
    paths: dict[int, str] = {}

    def full_path(rid: int) -> str:
        if rid in paths:
            return paths[rid]
        r = by_id[rid]
        if r["parent_id"] is None:
            p = "/"
        else:
            parent = full_path(r["parent_id"])
            p = ("" if parent == "/" else parent) + "/" + r["name"]
        paths[rid] = p
        return p

    by_path = {full_path(rid): rid for rid in by_id}
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
    auto-selects on INODE section size), then distributed path
    materialization + derived size columns."""
    if distributed is None:
        _, sections = _read_footer(path)
        ino = next((s.length for s in sections if s.name == "INODE"), 0)
        distributed = ino >= _DISTRIBUTED_THRESHOLD
    if distributed:
        raw = load_fsimage_distributed(
            spark, path, target_chunk_bytes=target_chunk_bytes,
            scratch_dir=scratch_dir,
        )
    else:
        rows = parse_fsimage(path)
        raw = spark.createDataFrame(
            [tuple(r[f] for f in _RAW_FIELDS) for r in rows], schema=_RAW_DDL
        )
    inodes = finalize_inodes(materialize_paths(raw))
    return inodes.select([f.name for f in INODES_SCHEMA.fields])


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
