"""Streaming CDC apply loop: versioned copy-on-write snapshots, replay
idempotency, end-to-end foreachBatch lifecycle."""

from __future__ import annotations

import os
import time

from hfsa_spark.streaming.run import drain

SCHEMA = "k bigint, v string, op string, ts int"


def _write_file(spark, base, idx, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
        os.path.join(base, f"stage{idx}")
    )
    src = os.path.join(base, f"stage{idx}")
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            dst = os.path.join(base, f"{idx:02d}.parquet")
            os.rename(os.path.join(src, f), dst)
            t = time.time() - 3600 + idx * 60
            os.utime(dst, (t, t))


def _base(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )


def test_batch_apply_and_replay_idempotent(spark, tmp_path):
    from hfsa_spark.streaming.cdc import (
        apply_change_batch,
        init_snapshot,
        latest_snapshot,
    )

    snap = str(tmp_path / "snap")
    init_snapshot(_base(spark), snap)

    b0 = spark.createDataFrame([(2, "b2", "U", 1), (4, "d", "I", 1)], SCHEMA)
    b1 = spark.createDataFrame([(1, None, "D", 2), (4, "d2", "U", 2)], SCHEMA)
    apply_change_batch(b0, snap, ["k"], batch_id=0)
    apply_change_batch(b1, snap, ["k"], batch_id=1)
    expect = {2: "b2", 3: "c", 4: "d2"}
    got = {r["k"]: r["v"] for r in latest_snapshot(spark, snap).collect()}
    assert got == expect

    # replay of an already-committed batch converges to the same state
    apply_change_batch(b0, snap, ["k"], batch_id=0)
    got2 = {r["k"]: r["v"] for r in latest_snapshot(spark, snap).collect()}
    assert got2 == expect
    # version chain is intact: v=0,1,2 all committed
    assert sorted(
        d for d in os.listdir(snap) if d.startswith("v=")
    ) == ["v=0", "v=1", "v=2"]


def test_streaming_lifecycle(spark, tmp_path):
    from hfsa_spark.streaming.cdc import (
        init_snapshot,
        latest_snapshot,
        streaming_upsert_snapshots,
    )

    arrivals = str(tmp_path / "changes")
    os.makedirs(arrivals)
    _write_file(spark, arrivals, 0, [(2, "b2", "U", 1), (4, "d", "I", 1)])
    _write_file(spark, arrivals, 1, [(4, None, "D", 2), (5, "e", "I", 2)])
    _write_file(spark, arrivals, 2, [(5, "e2", "U", 3), (3, None, "D", 3)])

    snap = str(tmp_path / "snap")
    init_snapshot(_base(spark), snap)

    src = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
    )
    q = streaming_upsert_snapshots(
        src, snap, str(tmp_path / "ckpt"), ["k"], ts_col="ts", op_col="op"
    )
    drain(q)

    got = {r["k"]: r["v"] for r in latest_snapshot(spark, snap).collect()}
    # 1:a untouched, 2 updated, 3 deleted in batch 2, 4 inserted then
    # deleted, 5 inserted then updated
    assert got == {1: "a", 2: "b2", 5: "e2"}
    # three batches → versions 0..3
    assert sorted(int(d.split("=")[1]) for d in os.listdir(snap)) == [0, 1, 2, 3]


def test_stray_version_dirs_skipped(spark, tmp_path):
    """A non-numeric v= suffix (editor dropping, stray dir) must be
    skipped by the version listing, not crash the apply loop."""
    from hfsa_spark.streaming.cdc import init_snapshot, latest_snapshot

    snap = str(tmp_path / "snap")
    init_snapshot(_base(spark), snap)
    os.makedirs(os.path.join(snap, "v=backup.old"))
    os.makedirs(os.path.join(snap, "v=2.tmp"))
    got = {r["k"]: r["v"] for r in latest_snapshot(spark, snap).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}


# ------------------------------------------------- bucket-granular COW


def _seq_reference(base_rows, batches):
    """Sequential dict model: the semantics every COW flavor must match."""
    state = dict(base_rows)
    for rows in batches:
        for k, v, op, _ in rows:
            if op == "D":
                state.pop(k, None)
            elif op in ("I", "U"):
                state[k] = v
    return state


BATCHES = [
    [(2, "b2", "U", 1), (4, "d", "I", 1)],
    [(4, None, "D", 2), (5, "e", "I", 2)],
    [(5, "e2", "U", 3), (3, None, "D", 3)],
]


def test_bucketed_apply_matches_snapshot_cow_and_reference(spark, tmp_path):
    """Bucket-COW final snapshot ≡ snapshot-COW ≡ the sequential
    reference model — granularity changes the WRITE VOLUME, never the
    answer."""
    from hfsa_spark.streaming.cdc import (
        apply_change_batch,
        apply_change_batch_bucketed,
        init_snapshot,
        init_snapshot_bucketed,
        latest_snapshot,
        latest_snapshot_bucketed,
    )

    full = str(tmp_path / "full")
    buck = str(tmp_path / "buck")
    init_snapshot(_base(spark), full)
    init_snapshot_bucketed(_base(spark), buck, ["k"], n_buckets=4)
    for i, rows in enumerate(BATCHES):
        b = spark.createDataFrame(rows, SCHEMA)
        apply_change_batch(b, full, ["k"], batch_id=i)
        apply_change_batch_bucketed(b, buck, batch_id=i)

    expect = _seq_reference([(1, "a"), (2, "b"), (3, "c")], BATCHES)
    got_full = {r["k"]: r["v"] for r in latest_snapshot(spark, full).collect()}
    got_buck = {
        r["k"]: r["v"] for r in latest_snapshot_bucketed(spark, buck).collect()
    }
    assert got_full == expect
    assert got_buck == expect
    # column order preserved through the bucketed read
    assert latest_snapshot_bucketed(spark, buck).columns == ["k", "v"]


def test_bucketed_replay_idempotent(spark, tmp_path):
    from hfsa_spark.streaming.cdc import (
        apply_change_batch_bucketed,
        init_snapshot_bucketed,
        latest_snapshot_bucketed,
    )

    snap = str(tmp_path / "snap")
    init_snapshot_bucketed(_base(spark), snap, ["k"], n_buckets=4)
    bs = [spark.createDataFrame(rows, SCHEMA) for rows in BATCHES]
    for i, b in enumerate(bs):
        apply_change_batch_bucketed(b, snap, batch_id=i)
    expect = {
        r["k"]: r["v"] for r in latest_snapshot_bucketed(spark, snap).collect()
    }
    # replay an EARLIER batch after later ones committed: it re-reads the
    # manifest <= its own id and rewrites identical content — the HEAD
    # manifest still answers with the post-batch-2 state
    apply_change_batch_bucketed(bs[0], snap, batch_id=0)
    got = {
        r["k"]: r["v"] for r in latest_snapshot_bucketed(spark, snap).collect()
    }
    assert got == expect


def test_bucketed_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100 TB property, asserted on files: a version directory holds
    ONLY the buckets the batch touched; untouched buckets stay at their
    old version by manifest reference (zero bytes copied)."""
    import json

    from hfsa_spark.streaming.cdc import (
        _bucket_expr,
        apply_change_batch_bucketed,
        init_snapshot_bucketed,
        latest_snapshot_bucketed,
    )
    from pyspark.sql import functions as F

    n_buckets = 8
    base = spark.createDataFrame(
        [(k, f"v{k}") for k in range(64)], "k bigint, v string"
    )
    snap = str(tmp_path / "snap")
    init_snapshot_bucketed(base, snap, ["k"], n_buckets=n_buckets)
    v0_buckets = {
        d for d in os.listdir(os.path.join(snap, "v=0"))
        if d.startswith("bucket=")
    }
    assert len(v0_buckets) == n_buckets  # 64 keys fill all 8 buckets

    # one-key change → exactly that key's bucket rewrites
    ch = spark.createDataFrame([(7, "v7x", "U", 1)], SCHEMA)
    apply_change_batch_bucketed(ch, snap, batch_id=0)
    touched = (
        spark.createDataFrame([(7,)], "k bigint")
        .select(_bucket_expr(["k"], n_buckets).alias("b"))
        .collect()[0]["b"]
    )
    v1_buckets = {
        d for d in os.listdir(os.path.join(snap, "v=1"))
        if d.startswith("bucket=")
    }
    assert v1_buckets == {f"bucket={touched}"}
    from hfsa_spark.streaming.cdc import _read_manifest

    manifest = _read_manifest(snap, 1)
    assert manifest[touched] == 1
    assert all(v == 0 for b, v in manifest.items() if b != touched)

    got = {
        r["k"]: r["v"] for r in latest_snapshot_bucketed(spark, snap).collect()
    }
    assert got[7] == "v7x" and len(got) == 64

    # deleting EVERY key in one bucket drops it from the manifest
    bucket_of = {
        r["k"]: r["b"]
        for r in base.select(
            "k", _bucket_expr(["k"], n_buckets).alias("b")
        ).collect()
    }
    victim = bucket_of[0]
    doomed = [k for k, b in bucket_of.items() if b == victim]
    ch2 = spark.createDataFrame(
        [(k, None, "D", 2) for k in doomed], SCHEMA
    )
    apply_change_batch_bucketed(ch2, snap, batch_id=1)
    manifest2 = _read_manifest(snap, 2)
    assert victim not in manifest2
    got2 = {
        r["k"] for r in latest_snapshot_bucketed(spark, snap).collect()
    }
    assert got2 == set(range(64)) - set(doomed)


def test_range_bucketed_apply_matches_reference(spark, tmp_path):
    """range bucket_mode: same answers, and a key-local batch touches
    only its range bucket (new key ranges create new buckets)."""
    import json

    from hfsa_spark.streaming.cdc import (
        apply_change_batch_bucketed,
        init_snapshot_bucketed,
        latest_snapshot_bucketed,
    )

    base = spark.createDataFrame(
        [(k, f"v{k}") for k in range(100)], "k bigint, v string"
    )
    snap = str(tmp_path / "snap")
    init_snapshot_bucketed(base, snap, ["k"], n_buckets=10,
                           bucket_mode="range", range_width=10)
    # keys 95..99 (bucket 9) update; key 120 (NEW bucket 12) inserts
    rows = [(k, f"v{k}x", "U", 1) for k in range(95, 100)]
    rows.append((120, "new", "I", 1))
    apply_change_batch_bucketed(
        spark.createDataFrame(rows, SCHEMA), snap, batch_id=0
    )
    v1 = {
        d for d in os.listdir(os.path.join(snap, "v=1"))
        if d.startswith("bucket=")
    }
    assert v1 == {"bucket=9", "bucket=12"}
    from hfsa_spark.streaming.cdc import _read_manifest

    manifest = _read_manifest(snap, 1)
    assert manifest[9] == 1 and manifest[12] == 1
    assert all(v == 0 for b, v in manifest.items() if b not in (9, 12))
    got = {
        r["k"]: r["v"] for r in latest_snapshot_bucketed(spark, snap).collect()
    }
    expect = {k: f"v{k}" for k in range(95)}
    expect.update({k: f"v{k}x" for k in range(95, 100)})
    expect[120] = "new"
    assert got == expect


def test_bucketed_insert_into_new_bucket(spark, tmp_path):
    """Pure inserts whose bucket has no prior data (empty base) create
    the bucket from the frozen schema, no file reads needed."""
    from hfsa_spark.streaming.cdc import (
        apply_change_batch_bucketed,
        init_snapshot_bucketed,
        latest_snapshot_bucketed,
    )

    snap = str(tmp_path / "snap")
    init_snapshot_bucketed(_base(spark).limit(0), snap, ["k"], n_buckets=4)
    ch = spark.createDataFrame([(10, "x", "I", 1), (11, "y", "I", 1)], SCHEMA)
    apply_change_batch_bucketed(ch, snap, batch_id=0)
    got = {
        r["k"]: r["v"] for r in latest_snapshot_bucketed(spark, snap).collect()
    }
    assert got == {10: "x", 11: "y"}


def test_vacuum_snapshot_cow(spark, tmp_path):
    """Snapshot-COW vacuum: versions are self-contained, so everything
    below the kept window goes; the head still reads."""
    from hfsa_spark.streaming.cdc import (
        apply_change_batch,
        init_snapshot,
        latest_snapshot,
        vacuum_snapshots,
    )

    snap = str(tmp_path / "snap")
    init_snapshot(_base(spark), snap)
    for i, rows in enumerate(BATCHES):
        apply_change_batch(
            spark.createDataFrame(rows, SCHEMA), snap, ["k"], batch_id=i
        )
    before = {r["k"]: r["v"] for r in latest_snapshot(spark, snap).collect()}
    removed = vacuum_snapshots(snap, keep_latest=1)
    assert removed == [0, 1, 2]
    assert sorted(os.listdir(snap)) == ["v=3"]
    after = {r["k"]: r["v"] for r in latest_snapshot(spark, snap).collect()}
    assert after == before


def test_vacuum_bucketed_keeps_referenced_versions(spark, tmp_path):
    """Bucket-COW vacuum: a version holding buckets the HEAD manifest
    still references must survive even when older than the kept window —
    the manifest, not directory age, is truth."""
    from hfsa_spark.streaming.cdc import (
        apply_change_batch_bucketed,
        init_snapshot_bucketed,
        latest_snapshot_bucketed,
        vacuum_snapshots,
    )

    base = spark.createDataFrame(
        [(k, f"v{k}") for k in range(64)], "k bigint, v string"
    )
    snap = str(tmp_path / "snap")
    init_snapshot_bucketed(base, snap, ["k"], n_buckets=8)
    # two single-key batches — most buckets stay referenced at v=0
    for i, k in enumerate((7, 13)):
        apply_change_batch_bucketed(
            spark.createDataFrame([(k, f"v{k}x", "U", i + 1)], SCHEMA),
            snap, batch_id=i,
        )
    before = {
        r["k"]: r["v"] for r in latest_snapshot_bucketed(spark, snap).collect()
    }
    removed = vacuum_snapshots(snap, keep_latest=1)
    # v=0 referenced by untouched buckets; v=1 only if key 7 and 13 share
    # a bucket version no longer referenced — with distinct buckets v=1
    # stays referenced by the head manifest too, so nothing is removable
    # unless both keys hashed to the SAME bucket; assert via the manifest
    from hfsa_spark.streaming.cdc import _read_manifest

    referenced = set(_read_manifest(snap, 2).values()) | {2}
    assert set(removed).isdisjoint(referenced)
    dirs = {d for d in os.listdir(snap) if d.startswith("v=")}
    assert dirs == {f"v={v}" for v in referenced}
    after = {
        r["k"]: r["v"] for r in latest_snapshot_bucketed(spark, snap).collect()
    }
    assert after == before


def test_merge_on_read_matches_reference_and_cow(spark, tmp_path):
    """The third strategy: O(batch) segment appends + read-time resolve
    must equal the sequential reference model (and hence both COW
    flavors — one oracle for the trio)."""
    from hfsa_spark.streaming.cdc import (
        append_change_segment,
        init_base,
        read_merged,
    )

    tdir = str(tmp_path / "mor")
    init_base(_base(spark), tdir)
    for i, rows in enumerate(BATCHES):
        append_change_segment(
            spark.createDataFrame(rows, SCHEMA), tdir, ["k"], batch_id=i
        )
    got = {
        r["k"]: r["v"]
        for r in read_merged(spark, tdir, ["k"]).collect()
    }
    assert got == _seq_reference([(1, "a"), (2, "b"), (3, "c")], BATCHES)


def test_merge_on_read_segment_replay_idempotent(spark, tmp_path):
    """Winners are a pure function of the batch: replaying a segment
    write (even after later segments landed) changes nothing."""
    from hfsa_spark.streaming.cdc import (
        append_change_segment,
        init_base,
        read_merged,
    )

    tdir = str(tmp_path / "mor")
    init_base(_base(spark), tdir)
    bs = [spark.createDataFrame(rows, SCHEMA) for rows in BATCHES]
    for i, b in enumerate(bs):
        append_change_segment(b, tdir, ["k"], batch_id=i)
    expect = {
        r["k"]: r["v"] for r in read_merged(spark, tdir, ["k"]).collect()
    }
    append_change_segment(bs[0], tdir, ["k"], batch_id=0)  # replay
    got = {
        r["k"]: r["v"] for r in read_merged(spark, tdir, ["k"]).collect()
    }
    assert got == expect


def test_merge_on_read_compaction_preserves_answers(spark, tmp_path):
    import os as _os

    from hfsa_spark.streaming.cdc import (
        append_change_segment,
        compact_segments,
        init_base,
        read_merged,
    )

    tdir = str(tmp_path / "mor")
    init_base(_base(spark), tdir)
    for i, rows in enumerate(BATCHES[:2]):
        append_change_segment(
            spark.createDataFrame(rows, SCHEMA), tdir, ["k"], batch_id=i
        )
    before = {
        r["k"]: r["v"] for r in read_merged(spark, tdir, ["k"]).collect()
    }
    assert compact_segments(spark, tdir, ["k"]) == 2
    assert not [d for d in _os.listdir(tdir) if d.startswith("seg=")]
    after = {
        r["k"]: r["v"] for r in read_merged(spark, tdir, ["k"]).collect()
    }
    assert after == before
    # new segments keep composing after compaction
    append_change_segment(
        spark.createDataFrame(BATCHES[2], SCHEMA), tdir, ["k"], batch_id=2
    )
    final = {
        r["k"]: r["v"] for r in read_merged(spark, tdir, ["k"]).collect()
    }
    assert final == _seq_reference([(1, "a"), (2, "b"), (3, "c")], BATCHES)


def test_merge_on_read_streaming_lifecycle(spark, tmp_path):
    from hfsa_spark.streaming.cdc import (
        init_base,
        read_merged,
        streaming_append_segments,
    )

    arrivals = str(tmp_path / "changes")
    os.makedirs(arrivals)
    for i, rows in enumerate(BATCHES):
        _write_file(spark, arrivals, i, rows)
    tdir = str(tmp_path / "mor")
    init_base(_base(spark), tdir)
    src = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
    )
    q = streaming_append_segments(
        src, tdir, str(tmp_path / "ckpt"), ["k"], ts_col="ts", op_col="op"
    )
    drain(q)
    got = {
        r["k"]: r["v"] for r in read_merged(spark, tdir, ["k"]).collect()
    }
    assert got == _seq_reference([(1, "a"), (2, "b"), (3, "c")], BATCHES)


def test_bucketed_streaming_lifecycle(spark, tmp_path):
    from hfsa_spark.streaming.cdc import (
        init_snapshot_bucketed,
        latest_snapshot_bucketed,
        streaming_upsert_snapshots_bucketed,
    )

    arrivals = str(tmp_path / "changes")
    os.makedirs(arrivals)
    for i, rows in enumerate(BATCHES):
        _write_file(spark, arrivals, i, rows)

    snap = str(tmp_path / "snap")
    init_snapshot_bucketed(_base(spark), snap, ["k"], n_buckets=4)
    src = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
    )
    q = streaming_upsert_snapshots_bucketed(
        src, snap, str(tmp_path / "ckpt"), ts_col="ts", op_col="op"
    )
    drain(q)

    got = {
        r["k"]: r["v"] for r in latest_snapshot_bucketed(spark, snap).collect()
    }
    assert got == _seq_reference([(1, "a"), (2, "b"), (3, "c")], BATCHES)
