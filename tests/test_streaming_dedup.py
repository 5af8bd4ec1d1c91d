"""Streaming exact dedup: duplicate documents arriving in LATER
micro-batches are dropped (state store remembers digests across batches)."""

from __future__ import annotations

import os

from hfsa_spark.streaming.run import drain


def _write_file(spark, base, idx, rows):
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1).write.parquet(
        os.path.join(base, f"stage{idx}")
    )
    src = os.path.join(base, f"stage{idx}")
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            os.rename(os.path.join(src, f), os.path.join(base, f"{idx:02d}.parquet"))


def test_streaming_ingest_dedup_pipeline(spark, tmp_path):
    """End-to-end continuous ingestion: three micro-batches with duplicates
    inside a batch, across batches, and against already-ingested docs —
    the corpus ends with exactly the distinct normalized texts and the
    digest index matches the corpus 1:1."""
    from hfsa_spark.streaming.ingest import streaming_ingest_dedup

    base = str(tmp_path / "arrivals")
    os.makedirs(base)
    _write_file(spark, base, 0, [(1, "alpha beta"), (2, "ALPHA  beta"), (3, "gamma")])
    _write_file(spark, base, 1, [(4, "alpha beta"), (5, "delta")])
    _write_file(spark, base, 2, [(6, "GAMMA"), (7, "epsilon"), (8, "epsilon")])

    src = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    index_path = str(tmp_path / "index")
    corpus_path = str(tmp_path / "corpus")
    q = streaming_ingest_dedup(
        src, index_path, corpus_path, checkpoint_path=str(tmp_path / "ck")
    )
    drain(q)

    corpus = spark.read.parquet(corpus_path)
    kept = sorted(r["doc_id"] for r in corpus.collect())
    # batch 0: 1 wins over 2 (normalized dup), 3 kept; batch 1: 4 is a dup
    # of 1, 5 kept; batch 2: 6 dups 3, 7 wins over 8
    assert kept == [1, 3, 5, 7]
    index = spark.read.parquet(index_path)
    assert index.count() == 4
    assert index.select("digest").distinct().count() == 4


def _corpus_state(spark, corpus_path, index_path):
    ids = sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    )
    digests = sorted(
        r["digest"] for r in spark.read.parquet(index_path).collect()
    )
    return ids, digests


def test_ingest_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once; ingest_batch must be idempotent on
    batch_id. Replaying a fully-committed batch, a batch whose index write
    was lost, and a batch whose corpus write was lost must all converge to
    the same corpus/index state — no duplicates, no dropped rows."""
    import shutil

    from hfsa_spark.streaming.ingest import ingest_batch

    index_path = str(tmp_path / "index")
    corpus_path = str(tmp_path / "corpus")
    b0 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id bigint, text string"
    )
    b1 = spark.createDataFrame(
        [(3, "ALPHA beta"), (4, "delta")], "doc_id bigint, text string"
    )
    assert ingest_batch(b0, index_path, corpus_path, batch_id=0) == 2
    assert ingest_batch(b1, index_path, corpus_path, batch_id=1) == 1  # 3 dups 1
    want = _corpus_state(spark, corpus_path, index_path)
    assert want[0] == [1, 2, 4]

    # replay of a fully-committed batch: no-op rewrite
    ingest_batch(b1, index_path, corpus_path, batch_id=1)
    assert _corpus_state(spark, corpus_path, index_path) == want

    # crash AFTER corpus write, BEFORE index write: replay must not
    # duplicate the corpus rows and must restore the index partition
    shutil.rmtree(os.path.join(index_path, "ingest_batch_id=1"))
    ingest_batch(b1, index_path, corpus_path, batch_id=1)
    assert _corpus_state(spark, corpus_path, index_path) == want

    # crash AFTER index write, BEFORE corpus write: replay must not drop
    # the rows (the index read excludes this batch's own digests)
    shutil.rmtree(os.path.join(corpus_path, "ingest_batch_id=1"))
    ingest_batch(b1, index_path, corpus_path, batch_id=1)
    assert _corpus_state(spark, corpus_path, index_path) == want
