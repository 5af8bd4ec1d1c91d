"""Embedding moments: expression-moments vs Arrow-covariance equivalence,
and scene-change detection over MJPEG video (multimodal temporal op)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hfsa_spark.operators.pca import covariance_arrow, embedding_moments


def _emb_df(spark, n=200, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    # anisotropic data: variance concentrated along the first axes
    scales = np.linspace(3.0, 0.1, dim)
    x = rng.normal(size=(n, dim)) * scales
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    return (
        spark.createDataFrame(rows, "vec_id bigint, embedding array<float>"),
        x.astype(np.float32).astype(np.float64),
    )


def test_moments_match_arrow_covariance(spark):
    df, x = _emb_df(spark, n=150, dim=8)
    mom = {
        (r.i, r.j): r for r in embedding_moments(df, "embedding", dims=8).collect()
    }
    mean, cov, n = covariance_arrow(df, "embedding", dim=8)
    assert n == 150
    for (i, j), r in mom.items():
        assert r.n == 150
        cov_q = r.sxy_q / 1e6 / r.n - (r.sx_q / 1e6 / r.n) * (r.sy_q / 1e6 / r.n)
        # quantized integer path vs float64 path: equal to quantization error
        assert cov_q == pytest.approx(cov[i, j], abs=5e-6)


def test_arrow_covariance_matches_numpy(spark):
    df, x = _emb_df(spark, n=200, dim=16)
    mean, cov, n = covariance_arrow(df, "embedding", dim=16)
    assert np.allclose(mean, x.mean(axis=0), atol=1e-9)
    assert np.allclose(cov, np.cov(x.T, bias=True), atol=1e-9)


def test_scene_changes_detects_planted_cut(spark):
    from hfsa_spark.operators.multimodal import (
        detect_scene_changes,
        synthesize_scene_avi_table,
    )

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id bigint")
    media = synthesize_scene_avi_table(docs, n_frames=8)
    cuts = detect_scene_changes(media, threshold=0.1).collect()
    got = {(r.doc_id, r.frame_idx) for r in cuts}
    assert got == {(i, 2 + i % 4) for i in range(6)}
    assert all(r.luma_delta > 0 for r in cuts)


def test_scene_changes_none_on_static_video(spark):
    from hfsa_spark.operators.multimodal import (
        detect_scene_changes,
        synthesize_avi_table,
    )

    docs = spark.createDataFrame([(0,)], "doc_id bigint")
    # synthesize_avi_table varies color per FRAME — use a high threshold
    # to treat its gradual changes as within-scene, then a tiny one
    media = synthesize_avi_table(docs, n_frames=4)
    assert detect_scene_changes(media, threshold=2.0).count() == 0


def test_hard_negatives_excludes_same_label(spark):
    from hfsa_spark.operators.similarity import hard_negatives

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 2)
    out = hard_negatives(emb, queries, k=5).collect()
    qlab = {r.vec_id: r.label for r in queries.collect()}
    assert len(out) == 2 * 5
    for r in out:
        assert r.neighbor_label != qlab[r.query_id]
        assert r.neighbor_id != r.query_id
    # ranks contiguous per query
    for q in qlab:
        ranks = sorted(r.rank for r in out if r.query_id == q)
        assert ranks == [1, 2, 3, 4, 5]


def test_hard_negatives_are_hardest_by_cosine(spark):
    import numpy as np

    from hfsa_spark.operators.similarity import hard_negatives

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.collect()
    x = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    labels = np.array([r.label for r in rows])
    qi = int(np.where(ids == 0)[0][0])
    sims = (x @ x[qi]) / (np.linalg.norm(x, axis=1) * np.linalg.norm(x[qi]))
    mask = (ids != 0) & (labels != labels[qi])
    order = np.lexsort((ids[mask], -sims[mask]))
    expect = ids[mask][order][:5].tolist()
    got = [
        r.neighbor_id
        for r in hard_negatives(emb, emb.filter(F.col("vec_id") == 0), k=5).collect()
    ]
    assert got == expect
