"""Hypothesis round-trip for the fsimage writer <-> decoder pair.

The fixed-fixture round-trips (test_fsimage_writer.py) and the external
framing vectors (test_codec_vectors.py) pin known shapes; this generates
ARBITRARY trees — unicode names, symlinks, packed ACLs, quotas, negative
block ids, every codec — so a decoder assumption that happens to hold
only for the committed fixtures cannot survive. Mirrors the reference's
generator-feeds-loader strategy (FsImageGenerator.java fixtures feeding
FsImageLoaderTest.java) but with a randomized generator.

Pure-Python (parse_fsimage) — no SparkSession per example; the
distributed loader shares the same section decoders and is pinned
separately in test_fsimage_writer.py::test_written_image_distributed_load.
"""

from __future__ import annotations

import os
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hfsa_spark.extract.fsimage import parse_fsimage
from hfsa_spark.extract.fsimage_writer import write_fsimage

# HDFS component names: any byte sequence without "/"; we generate valid
# UTF-8 text (the decoder contract) excluding "/", NUL and surrogates.
NAME = st.text(
    alphabet=st.characters(
        blacklist_characters="/\x00", blacklist_categories=("Cs",)
    ),
    min_size=1,
    max_size=12,
)
PRINCIPAL = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789._-éß漢", min_size=1, max_size=8
)
TS = st.integers(min_value=0, max_value=2**53)
U50 = st.integers(min_value=0, max_value=2**50)
QUOTA = st.one_of(st.just(-1), st.integers(min_value=0, max_value=2**50))
MODE = st.integers(min_value=0, max_value=0xFFFF)
I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
CODEC = st.sampled_from(
    [None, "default", "gzip", "lz4", "snappy", "bzip2", "zstd", "lzo", "lzop"]
)


@st.composite
def _acl_entry(draw):
    scope = "default:" if draw(st.booleans()) else ""
    etype = draw(st.sampled_from(["user", "group", "mask", "other"]))
    name = draw(st.one_of(st.just(""), PRINCIPAL))
    perm = draw(st.sampled_from(["---", "--x", "-w-", "-wx", "r--", "r-x", "rw-", "rwx"]))
    return f"{scope}{etype}:{name}:{perm}"


_ACLS = st.lists(_acl_entry(), max_size=3)


@st.composite
def _tree(draw):
    """Random inode forest rooted at the HDFS root inode (id 16385)."""
    root = {
        "id": 16385,
        "parent_id": None,
        "name": "",
        "type": "DIRECTORY",
        "user": draw(PRINCIPAL),
        "group": draw(PRINCIPAL),
        "mode": draw(MODE),
        "mtime": draw(TS),
        "ns_quota": draw(QUOTA),
        "ds_quota": draw(QUOTA),
        "acl": draw(_ACLS),
    }
    rows, dirs = [root], [16385]
    n = draw(st.integers(min_value=0, max_value=24))
    for i in range(n):
        t = draw(st.sampled_from(["FILE", "FILE", "DIRECTORY", "SYMLINK"]))
        row = {
            "id": 16386 + i,
            "parent_id": draw(st.sampled_from(dirs)),
            "name": draw(NAME),
            "type": t,
            "user": draw(PRINCIPAL),
            "group": draw(PRINCIPAL),
            "mode": draw(MODE),
            "mtime": draw(TS),
        }
        if t == "FILE":
            row.update(
                atime=draw(TS),
                replication=draw(st.integers(min_value=0, max_value=10)),
                preferred_block_size=draw(U50),
                storage_policy_id=draw(st.integers(min_value=0, max_value=12)),
                ec_policy_id=draw(st.integers(min_value=0, max_value=5)),
                blocks=draw(st.lists(st.tuples(I64, U50, U50), max_size=3)),
                acl=draw(_ACLS),
            )
        elif t == "DIRECTORY":
            row.update(ns_quota=draw(QUOTA), ds_quota=draw(QUOTA), acl=draw(_ACLS))
            dirs.append(row["id"])
        else:
            row.update(
                atime=draw(TS),
                symlink_target=draw(st.one_of(st.none(), NAME)),
            )
        rows.append(row)
    return rows


def _expected(g: dict) -> dict:
    """The decoder row (_parse_inode defaults) a generated row must decode
    to — writer-omitted falsy optionals land on the decoder defaults."""
    t = g["type"]
    return {
        "id": g["id"],
        "parent_id": g.get("parent_id"),
        "name": g.get("name", ""),
        "type": t,
        "mtime": g.get("mtime", 0),
        "atime": g.get("atime", 0) if t != "DIRECTORY" else 0,
        "replication": g.get("replication", 0) if t == "FILE" else 0,
        "preferred_block_size": g.get("preferred_block_size", 0) if t == "FILE" else 0,
        "storage_policy_id": g.get("storage_policy_id", 0) if t == "FILE" else 0,
        "ec_policy_id": g.get("ec_policy_id", 0) if t == "FILE" else 0,
        "ns_quota": g.get("ns_quota", -1) if t == "DIRECTORY" else -1,
        "ds_quota": g.get("ds_quota", -1) if t == "DIRECTORY" else -1,
        "symlink_target": (g.get("symlink_target") or "") if t == "SYMLINK" else None,
        "blocks": [tuple(b) for b in g.get("blocks") or []] if t == "FILE" else None,
        "mode": g.get("mode", 0) & 0xFFFF,
        "user": g.get("user", ""),
        "group": g.get("group", ""),
        "acl": list(g.get("acl") or []) if t != "SYMLINK" else [],
    }


def _strip(rows: list[dict]) -> list[dict]:
    return sorted(
        ({k: v for k, v in r.items() if k != "permission_raw"} for r in rows),
        key=lambda r: r["id"],
    )


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=_tree(), codec=CODEC)
def test_random_tree_roundtrips_through_every_codec(rows, codec):
    fd, path = tempfile.mkstemp(suffix=".img")
    os.close(fd)
    try:
        write_fsimage(path, rows, codec=codec)
        got = _strip(parse_fsimage(path))
    finally:
        os.unlink(path)
    want = sorted((_expected(r) for r in rows), key=lambda r: r["id"])
    assert got == want


def _all_names(rows):
    names = {r.get("user", "") for r in rows} | {r.get("group", "") for r in rows}
    for r in rows:
        for s in r.get("acl") or []:
            parts = s.split(":")
            if parts[0] == "default":
                parts = parts[1:]
            if parts[1]:
                names.add(parts[1])
    return names


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=_tree(), codec=CODEC)
def test_streaming_writer_bytes_equal_buffered_on_random_trees(rows, codec):
    """The one-pass generator path (string_table/num_inodes supplied up
    front — the 100M-inode memory posture) must emit byte-identical
    images to the buffered path for ANY tree, not just the fixture."""
    fd1, buffered = tempfile.mkstemp(suffix=".img")
    fd2, streamed = tempfile.mkstemp(suffix=".img")
    os.close(fd1), os.close(fd2)
    try:
        write_fsimage(buffered, rows, codec=codec)
        write_fsimage(
            streamed,
            iter(rows),
            codec=codec,
            string_table=sorted(_all_names(rows)),
            num_inodes=len(rows),
            last_inode_id=max(r["id"] for r in rows),
        )
        a = open(buffered, "rb").read()
        b = open(streamed, "rb").read()
    finally:
        os.unlink(buffered), os.unlink(streamed)
    assert a == b
