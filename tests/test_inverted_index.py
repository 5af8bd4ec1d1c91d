"""Inverted-index sink: build-once/serve-many BM25 parity and pushdown."""

from __future__ import annotations

import shutil
import tempfile

import pytest


QS = [(0, "alpha"), (0, "beta"), (1, "gamma"), (1, "zz_absent")]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "alpha beta beta gamma"),
        (2, "alpha alpha delta"),
        (3, "gamma gamma gamma beta"),
        (4, "delta epsilon"),
        (5, "alpha beta gamma delta epsilon"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_indexed_bm25_matches_batch_scorer(spark, corpus):
    from hfsa_spark.operators.text import bm25_topk
    from hfsa_spark.sinks.inverted_index import (
        bm25_topk_indexed,
        write_inverted_index,
    )

    want = [tuple(r) for r in bm25_topk(corpus, QS, k=3).collect()]
    out = tempfile.mkdtemp(prefix="invidx_test_")
    try:
        write_inverted_index(corpus, out, n_shards=2)
        got = [tuple(r) for r in bm25_topk_indexed(spark, out, QS, k=3).collect()]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    assert got == want


def test_index_scan_pushes_term_filter(spark, corpus):
    from hfsa_spark.sinks.inverted_index import (
        bm25_topk_indexed,
        write_inverted_index,
    )

    out = tempfile.mkdtemp(prefix="invidx_test_")
    try:
        write_inverted_index(corpus, out, n_shards=2)
        df = bm25_topk_indexed(spark, out, QS, k=3)
        plan = df._jdf.queryExecution().toString()
        assert "PushedFilters" in plan and "In(term" in plan.replace(" ", "")
        df.collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_index_stats_are_exact(spark, corpus):
    from hfsa_spark.sinks.inverted_index import write_inverted_index

    out = tempfile.mkdtemp(prefix="invidx_test_")
    try:
        write_inverted_index(corpus, out, n_shards=2)
        stats = spark.read.parquet(out + "/stats").collect()[0]
        assert stats.n_docs == 5
        assert stats.total_tokens == 4 + 3 + 4 + 2 + 5
        dl = {r.id: r.dl for r in spark.read.parquet(out + "/doclen").collect()}
        assert dl == {1: 4, 2: 3, 3: 4, 4: 2, 5: 5}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_segmented_index_matches_batch_and_replay_is_idempotent(spark, corpus):
    from hfsa_spark.operators.text import bm25_topk
    from hfsa_spark.sinks.inverted_index import (
        bm25_topk_indexed,
        write_index_segment,
    )

    want = [tuple(r) for r in bm25_topk(corpus, QS, k=3).collect()]
    out = tempfile.mkdtemp(prefix="invidx_seg_")
    try:
        b0 = corpus.filter("doc_id % 2 = 0")
        b1 = corpus.filter("doc_id % 2 = 1")
        write_index_segment(b0, out, 0, n_shards=2)
        write_index_segment(b1, out, 1, n_shards=2)
        got = [tuple(r) for r in bm25_topk_indexed(spark, out, QS, k=3).collect()]
        assert got == want
        # at-least-once replay of segment 1 must leave the index unchanged
        write_index_segment(b1, out, 1, n_shards=2)
        again = [tuple(r) for r in bm25_topk_indexed(spark, out, QS, k=3).collect()]
        assert again == want
        stats = spark.read.parquet(out + "/stats")
        assert stats.count() == 2  # one row per segment, not three
    finally:
        shutil.rmtree(out, ignore_errors=True)
