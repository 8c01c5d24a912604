"""Round-9 hardening: bucket-file-granular vacuum, optimistic
concurrency guards on the maintenance writers, S3-family direct-PUT
commit markers, fs-shim error surfacing, and the skew_reduce
non-orderable-payload fix.

Reference parity note: all of this is beyond-reference maintenance
machinery (the reference, marcelmay/hfsa, is read-only over one
fsimage); the protocols mirror the public Delta/Iceberg/Hudi table-
service designs re-expressed over plain Spark DataFrames.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

SCHEMA = "k bigint, v string, op string, ts int"


def _base(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )


def _buckets_on_disk(snap: str) -> set[str]:
    out = set()
    for d in os.listdir(snap):
        if not d.startswith("v="):
            continue
        for child in os.listdir(os.path.join(snap, d)):
            if child.startswith("bucket="):
                out.add(f"{d}/{child}")
    return out


# ------------------------------------------------------- vacuum_buckets


def test_vacuum_buckets_reclaims_superseded_buckets(spark, tmp_path):
    """Rewriting the same key every batch leaves a superseded copy of
    its bucket in every old version; vacuum_buckets must reclaim those
    while keeping every bucket the head manifest references (including
    never-touched buckets still served from v=0)."""
    from hfsa_spark.streaming.cdc import (
        _read_manifest,
        apply_change_batch_bucketed,
        init_snapshot_bucketed,
        latest_snapshot_bucketed,
        vacuum_buckets,
    )

    snap = str(tmp_path / "snap")
    init_snapshot_bucketed(_base(spark), snap, ["k"], n_buckets=8)
    for i in range(3):  # hammer key 2: its bucket rewrites every batch
        apply_change_batch_bucketed(
            spark.createDataFrame([(2, f"b{i}", "U", i + 1)], SCHEMA),
            snap, batch_id=i,
        )
    before = latest_snapshot_bucketed(spark, snap).collect()
    manifest = _read_manifest(snap, 3)
    referenced = {f"v={bv}/bucket={b}" for b, bv in manifest.items()}
    assert referenced < _buckets_on_disk(snap)  # superseded copies exist

    removed = vacuum_buckets(snap, keep_latest=1)
    assert removed  # something was reclaimed
    # exactly the referenced bucket files remain
    assert _buckets_on_disk(snap) == referenced
    after = latest_snapshot_bucketed(spark, snap).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    # non-retained manifests are withdrawn: head is the only version left
    from hfsa_spark.streaming.cdc import MANIFEST, _committed_versions

    assert _committed_versions(snap, marker=MANIFEST) == [3]
    # idempotent: a second run finds nothing
    assert vacuum_buckets(snap, keep_latest=1) == []


def test_vacuum_buckets_keep_latest_preserves_time_travel(spark, tmp_path):
    """With keep_latest=2 both retained manifests must stay readable —
    including buckets they reference in OLDER, non-retained versions."""
    from hfsa_spark.streaming.cdc import (
        apply_change_batch_bucketed,
        init_snapshot_bucketed,
        latest_snapshot_bucketed,
        vacuum_buckets,
    )

    snap = str(tmp_path / "snap")
    init_snapshot_bucketed(_base(spark), snap, ["k"], n_buckets=8)
    apply_change_batch_bucketed(
        spark.createDataFrame([(2, "b1", "U", 1)], SCHEMA), snap, batch_id=0
    )
    apply_change_batch_bucketed(
        spark.createDataFrame([(2, "b2", "U", 2)], SCHEMA), snap, batch_id=1
    )
    want_v1 = {
        r["k"]: r["v"]
        for r in latest_snapshot_bucketed(spark, snap, version=1).collect()
    }
    vacuum_buckets(snap, keep_latest=2)
    got_v1 = {
        r["k"]: r["v"]
        for r in latest_snapshot_bucketed(spark, snap, version=1).collect()
    }
    assert got_v1 == want_v1 == {1: "a", 2: "b1", 3: "c"}
    got_head = {
        r["k"]: r["v"] for r in latest_snapshot_bucketed(spark, snap).collect()
    }
    assert got_head == {1: "a", 2: "b2", 3: "c"}
    # v=0 still hosts the untouched buckets (keys 1 and 3) — not removed
    assert any(d == "v=0" for d in os.listdir(snap))


def test_vacuum_buckets_removes_crash_debris_keeps_inflight(spark, tmp_path):
    """A manifest-less v= dir at/below the committed head is a crashed
    writer's debris and goes; a NEWER manifest-less dir belongs to an
    in-flight writer and stays."""
    from hfsa_spark.streaming.cdc import (
        apply_change_batch_bucketed,
        init_snapshot_bucketed,
        vacuum_buckets,
    )

    snap = str(tmp_path / "snap")
    init_snapshot_bucketed(_base(spark), snap, ["k"], n_buckets=4)
    apply_change_batch_bucketed(
        spark.createDataFrame([(2, "b1", "U", 1)], SCHEMA), snap, batch_id=0
    )
    apply_change_batch_bucketed(
        spark.createDataFrame([(2, "b2", "U", 2)], SCHEMA), snap, batch_id=1
    )
    # crash debris: strip v=1's manifest — a writer that died before its
    # marker leaves exactly this (an unreferenced numbered dir <= head)
    os.remove(os.path.join(snap, "v=1", "_MANIFEST.json"))
    # an unreferenced stray bucket inside kept-for-reference v=0
    os.makedirs(os.path.join(snap, "v=0", "bucket=99"), exist_ok=True)
    os.makedirs(os.path.join(snap, "v=9"), exist_ok=True)  # in-flight
    removed = vacuum_buckets(snap, keep_latest=1)
    assert "v=1" in removed  # crash debris below head reclaimed
    assert not os.path.exists(os.path.join(snap, "v=1"))
    assert os.path.isdir(os.path.join(snap, "v=9"))  # in-flight untouched
    # the fake unreferenced bucket inside kept-for-reference v=0 is gone
    assert not os.path.exists(os.path.join(snap, "v=0", "bucket=99"))


# ------------------------------------- optimistic concurrency guards


def test_bucketed_apply_aborts_on_racing_committer(spark, tmp_path, monkeypatch):
    """If another writer commits between a batch's head resolution and
    its manifest write, the guard must abort loudly BEFORE the marker,
    leaving the racer's commit authoritative and our attempt invisible."""
    import hfsa_spark.streaming.cdc as cdc

    snap = str(tmp_path / "snap")
    cdc.init_snapshot_bucketed(_base(spark), snap, ["k"], n_buckets=4)

    real = cdc._committed_versions
    calls = {"n": 0}

    def racing(path, marker="_SUCCESS"):
        out = real(path, marker=marker)
        calls["n"] += 1
        if calls["n"] > 1:  # every re-check sees a racer's new head
            return sorted(set(out) | {max(out, default=-1) + 1})
        return out

    monkeypatch.setattr(cdc, "_committed_versions", racing)
    with pytest.raises(RuntimeError, match="concurrent writer"):
        cdc.apply_change_batch_bucketed(
            spark.createDataFrame([(2, "x", "U", 1)], SCHEMA),
            snap, batch_id=0,
        )
    monkeypatch.undo()
    # no manifest landed for v=1: the aborted attempt is invisible
    assert not os.path.exists(os.path.join(snap, "v=1", "_MANIFEST.json"))
    got = {
        r["k"]: r["v"]
        for r in cdc.latest_snapshot_bucketed(spark, snap).collect()
    }
    assert got == {1: "a", 2: "b", 3: "c"}
    # above-head debris is left by vacuum (it could be an in-flight
    # writer); recovery is simply re-applying the batch, which
    # overwrites the debris and commits
    assert cdc.vacuum_buckets(snap, keep_latest=1) == []
    cdc.apply_change_batch_bucketed(
        spark.createDataFrame([(2, "x", "U", 1)], SCHEMA), snap, batch_id=0
    )
    got2 = {
        r["k"]: r["v"]
        for r in cdc.latest_snapshot_bucketed(spark, snap).collect()
    }
    assert got2 == {1: "a", 2: "x", 3: "c"}


def test_compact_aborts_on_racing_compactor(spark, tmp_path, monkeypatch):
    """Same guard on the merge-on-read compactor: a base committed by a
    racer between resolve and marker triggers a clean abort; the old
    head stays authoritative and readers still resolve."""
    import hfsa_spark.streaming.cdc as cdc

    tdir = str(tmp_path / "mor")
    cdc.init_base(_base(spark), tdir)
    cdc.append_change_segment(
        spark.createDataFrame([(2, "b2", "U", 1)], SCHEMA),
        tdir, ["k"], batch_id=0,
    )

    real = cdc._committed_bases
    calls = {"n": 0}

    def racing(path):
        out = real(path)
        calls["n"] += 1
        if calls["n"] > 1:
            return sorted(set(out) | {max(out, default=-1) + 1})
        return out

    monkeypatch.setattr(cdc, "_committed_bases", racing)
    with pytest.raises(RuntimeError, match="concurrent compaction"):
        cdc.compact_segments(spark, tdir, ["k"])
    monkeypatch.undo()
    # marker never landed: old base + unfolded segment still resolve
    got = {r["k"]: r["v"] for r in cdc.read_merged(spark, tdir, ["k"]).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    # vacuum removes the aborted marker-less base attempt
    removed = cdc.vacuum_segments(tdir)
    assert "_base_v=1" in removed
    # a rerun of the (now unraced) compaction succeeds
    assert cdc.compact_segments(spark, tdir, ["k"]) == 1
    got2 = {r["k"]: r["v"] for r in cdc.read_merged(spark, tdir, ["k"]).collect()}
    assert got2 == got


# ------------------------------------------------ fs shim: S3 markers


def test_write_text_atomic_scheme_dispatch(monkeypatch):
    """Pin which commit-marker path each scheme takes: S3 family → one
    direct PUT of the FINAL path (single PUT is atomic there, rename is
    copy+delete); rename-capable filesystems → tmp + atomic replace."""
    from hfsa_spark import fs

    events: list[tuple] = []
    monkeypatch.setattr(
        fs, "_write_bytes", lambda p, data: events.append(("put", p))
    )
    monkeypatch.setattr(
        fs, "replace", lambda src, dst: events.append(("replace", src, dst))
    )

    for sch in ["s3a", "s3", "s3n"]:
        events.clear()
        fs.write_text_atomic(f"{sch}://bucket/t/_MANIFEST.json", "{}")
        assert events == [("put", f"{sch}://bucket/t/_MANIFEST.json")]

    events.clear()
    fs.write_text_atomic("hdfs://nn/t/_MANIFEST.json", "{}")
    assert events == [
        ("put", "hdfs://nn/t/_MANIFEST.json.tmp"),
        ("replace", "hdfs://nn/t/_MANIFEST.json.tmp", "hdfs://nn/t/_MANIFEST.json"),
    ]


def test_fs_scheme_helper():
    from hfsa_spark import fs

    assert fs.scheme("s3a://b/k") == "s3a"
    assert fs.scheme("HDFS://nn/x") == "hdfs"
    assert fs.scheme("file:/x") == "file"
    assert fs.scheme("/plain/posix") == ""


def test_fs_makedirs_raises_on_false_return(monkeypatch):
    """Hadoop mkdirs() signals failure by returning false — the shim
    must surface that as OSError, not swallow it."""
    from hfsa_spark import fs

    class FakeFS:
        def mkdirs(self, p):
            return False

    monkeypatch.setattr(fs, "_jfs", lambda p: (FakeFS(), p, None))
    with pytest.raises(OSError, match="mkdirs failed"):
        fs.makedirs("hdfs://nn/cannot")


def test_fs_rename_false_return_raises(spark, tmp_path, monkeypatch):
    """rename() relies on Hadoop rename's boolean return (no exists
    pre-check, no TOCTOU window): a false return must surface as
    OSError, and a plain successful rename still works over file://."""
    from hfsa_spark import fs

    root = "file://" + str(tmp_path)
    fs.makedirs(os.path.join(root, "a"))
    fs.rename(os.path.join(root, "a"), os.path.join(root, "b"))
    assert fs.listdir(root) == ["b"]

    class FakeFS:
        def rename(self, s, d):
            return False

    class FakePath:
        def __init__(self, p):
            pass

    class FakeJvm:
        class org:
            class apache:
                class hadoop:
                    class fs:
                        Path = FakePath

    monkeypatch.setattr(fs, "_jfs", lambda p: (FakeFS(), p, FakeJvm))
    with pytest.raises(OSError, match="rename failed"):
        fs.rename("hdfs://nn/a", "hdfs://nn/b")


def test_fs_remove_single_file(spark, tmp_path):
    from hfsa_spark import fs

    for prefix in ["", "file://"]:
        root = prefix + str(tmp_path / ("s" if prefix else "p"))
        fs.makedirs(root)
        f = os.path.join(root, "m.json")
        fs.write_text_atomic(f, "{}")
        fs.remove(f)
        assert not fs.exists(f)
        with pytest.raises((FileNotFoundError, OSError)):
            fs.remove(f)


# ------------------------------- skew_reduce with non-orderable payload


def test_skew_reduce_accepts_map_payload(spark):
    """MapType payloads work on the window path and must now work under
    skew_reduce too (max_by pairing instead of riding the comparison
    struct), with the same winner."""
    from hfsa_spark.operators.cdc import upsert_merge

    base = spark.createDataFrame(
        [(1, {"a": "1"}, "x"), (2, {"b": "2"}, "y")],
        "k bigint, m map<string,string>, v string",
    )
    changes = spark.createDataFrame(
        [
            (1, {"a": "9"}, "x2", "U", 2, 1),
            (1, {"a": "5"}, "x1", "U", 1, 0),
            (3, {"c": "3"}, "z", "I", 1, 0),
        ],
        "k bigint, m map<string,string>, v string, op string, ts int, seq int",
    )
    kw = dict(ts_col="ts", op_col="op", seq_col="seq")
    plain = upsert_merge(base, changes, ["k"], **kw)
    skew = upsert_merge(base, changes, ["k"], skew_reduce=True, **kw)
    want = {(1, "x2", "9"), (2, "y", None), (3, "z", "3")}

    def norm(df):
        return {
            (r["k"], r["v"], (r["m"] or {}).get("a") or (r["m"] or {}).get("c"))
            for r in df.collect()
        }

    assert norm(plain) == want
    assert norm(skew) == want


def test_skew_reduce_map_payload_is_map_side_combinable(spark):
    """The fix must not cost the partial-aggregation property that is
    skew_reduce's whole point: the plan still shows a partial
    HashAggregate before the exchange."""
    from hfsa_spark.operators.cdc import _latest_per_key

    changes = spark.createDataFrame(
        [(1, {"a": "1"}, "U", 1, 0)],
        "k bigint, m map<string,string>, op string, ts int, seq int",
    )
    reduced = _latest_per_key(changes, ["k"], "ts", "seq", skew_reduce=True)
    plan = reduced._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan


# ------------------------------------ bucketed schema evolution (eras)


def test_bucketed_evolve_schema_additive(spark, tmp_path):
    """A batch carrying a NEW column under evolve_schema=True commits a
    new schema era: the head reads with the new column (NULL on rows
    only present in untouched old-era buckets), time travel to a
    pre-evolution version reads that era's columns only."""
    from hfsa_spark.streaming.cdc import (
        apply_change_batch_bucketed,
        init_snapshot_bucketed,
        latest_snapshot_bucketed,
        lookup_bucketed,
    )

    snap = str(tmp_path / "snap")
    init_snapshot_bucketed(_base(spark), snap, ["k"], n_buckets=8)
    apply_change_batch_bucketed(
        spark.createDataFrame([(2, "b1", "U", 1)], SCHEMA), snap, batch_id=0
    )
    # batch 1 adds a 'score' column
    evolved = spark.createDataFrame(
        [(2, "b2", 0.9, "U", 2), (4, "d", 0.5, "I", 2)],
        "k bigint, v string, score double, op string, ts int",
    )
    apply_change_batch_bucketed(
        evolved, snap, batch_id=1, evolve_schema=True
    )
    head = latest_snapshot_bucketed(spark, snap)
    assert head.columns == ["k", "v", "score"]
    got = {r["k"]: (r["v"], r["score"]) for r in head.collect()}
    assert got == {
        1: ("a", None),  # untouched old-era bucket: NULL-filled
        2: ("b2", 0.9),
        3: ("c", None),
        4: ("d", 0.5),
    }
    # time travel: version 1 predates the evolution — old era only
    v1 = latest_snapshot_bucketed(spark, snap, version=1)
    assert v1.columns == ["k", "v"]
    assert {r["k"]: r["v"] for r in v1.collect()} == {1: "a", 2: "b1", 3: "c"}
    # point lookup resolves the head era too — old-era bucket NULL-fills
    one = lookup_bucketed(spark, snap, [1]).collect()
    assert [(r["k"], r["v"], r["score"]) for r in one] == [(1, "a", None)]
    # a later NON-evolving batch keeps the evolved era
    apply_change_batch_bucketed(
        spark.createDataFrame(
            [(3, "c2", 0.1, "U", 3)],
            "k bigint, v string, score double, op string, ts int",
        ),
        snap, batch_id=2,
    )
    head2 = latest_snapshot_bucketed(spark, snap)
    assert head2.columns == ["k", "v", "score"]
    assert {r["k"] for r in head2.collect()} == {1, 2, 3, 4}


def test_bucketed_evolve_without_flag_ignores_extra_columns(spark, tmp_path):
    """Without evolve_schema the pre-r9 contract holds (same as
    upsert_merge's): unknown change columns are ignored, the schema era
    does not move."""
    from hfsa_spark.streaming.cdc import (
        apply_change_batch_bucketed,
        init_snapshot_bucketed,
        latest_snapshot_bucketed,
    )

    snap = str(tmp_path / "snap")
    init_snapshot_bucketed(_base(spark), snap, ["k"], n_buckets=4)
    evolved = spark.createDataFrame(
        [(2, "x", 1.0, "U", 1)],
        "k bigint, v string, score double, op string, ts int",
    )
    apply_change_batch_bucketed(evolved, snap, batch_id=0)
    head = latest_snapshot_bucketed(spark, snap)
    assert head.columns == ["k", "v"]  # era unchanged, score dropped
    assert {r["k"]: r["v"] for r in head.collect()} == {
        1: "a", 2: "x", 3: "c"
    }


def test_bucketed_evolve_then_vacuum_keeps_mixed_eras_readable(
    spark, tmp_path
):
    """vacuum_buckets after an evolution must keep the mixed-era head
    readable (old-era untouched buckets are referenced, so they stay)."""
    from hfsa_spark.streaming.cdc import (
        apply_change_batch_bucketed,
        init_snapshot_bucketed,
        latest_snapshot_bucketed,
        vacuum_buckets,
    )

    snap = str(tmp_path / "snap")
    init_snapshot_bucketed(_base(spark), snap, ["k"], n_buckets=8)
    evolved = spark.createDataFrame(
        [(2, "b2", 7, "U", 1)],
        "k bigint, v string, extra int, op string, ts int",
    )
    apply_change_batch_bucketed(evolved, snap, batch_id=0,
                                evolve_schema=True)
    before = sorted(
        map(tuple, latest_snapshot_bucketed(spark, snap).collect())
    )
    vacuum_buckets(snap, keep_latest=1)
    after = sorted(
        map(tuple, latest_snapshot_bucketed(spark, snap).collect())
    )
    assert after == before


# ----------------------------------------- truncated block stream bound


def test_decompress_to_file_truncated_block_stream_raises(tmp_path):
    """A corrupt/truncated lz4 section must raise the clear truncation
    error, never read into the next section (the same bounded section
    reader as the in-memory _decompress)."""
    import struct as _struct

    import pyarrow as pa

    from hfsa_spark.extract.fsimage import _decompress_to_file

    payload = b"x" * 100
    comp = pa.Codec("lz4_raw").compress(payload, asbytes=True)
    stream = _struct.pack(">i", len(payload)) + _struct.pack(">i", len(comp)) + comp
    # truncate mid-chunk AND append next-section bytes that a naive
    # reader would happily consume
    cut = stream[: 4 + 4 + len(comp) // 2]
    img = cut + b"NEXTSECTIONBYTES" * 4
    p = tmp_path / "img.bin"
    p.write_bytes(img)
    out = tmp_path / "out.bin"
    with open(out, "wb") as dst, pytest.raises(ValueError, match="truncated"):
        _decompress_to_file(str(p), 0, len(cut), dst, codec="Lz4Codec")


def test_decompress_to_file_zstd_streams_bounded(tmp_path):
    """The zstd branch must produce identical bytes through the bounded
    file-slice stream (constant memory) — including with leading and
    trailing foreign bytes around the section."""
    import pyarrow as pa

    from hfsa_spark.extract.fsimage import _decompress_to_file

    payload = os.urandom(1 << 16) + b"tail" * 1000
    comp = pa.Codec("zstd").compress(payload, asbytes=True)
    p = tmp_path / "img.bin"
    p.write_bytes(b"HEAD" + comp + b"TRAILINGSECTION")
    out = tmp_path / "out.bin"
    with open(out, "wb") as dst:
        n = _decompress_to_file(
            str(p), 4, len(comp), dst, codec="ZStandardCodec"
        )
    assert n == len(payload)
    assert out.read_bytes() == payload
