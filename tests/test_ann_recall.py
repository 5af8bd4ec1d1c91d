"""ANN approximation QUALITY floors: recall@10 against the exact
brute-force baseline on a seeded clustered 100k corpus — the number the
similarity stack is ultimately judged by (the exactness/equivalence tests
elsewhere pin determinism, not approximation quality). The full
recall-vs-cost curve lives in PERFORMANCE.md "ANN recall@10"; these
tests pin floors so a regression in bucketing, probing, or tie-handling
shows up as a failure, not a silent quality drop."""

from __future__ import annotations

from pyspark.sql import functions as F


def _recall(approx_rows, gt: dict[int, set[int]], k: int = 10) -> float:
    got: dict[int, set[int]] = {}
    for r in approx_rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return sum(len(got.get(q, set()) & s) / k for q, s in gt.items()) / len(gt)


def test_ivf_recall_floor_100k(spark):
    """IVF at n_probe=16 over ~1000 stride-sampled lists must keep
    recall@10 ≥ 0.8 on the seeded 100k clustered corpus (measured 0.925;
    n_probe=1 is the sanity lower rung of the curve)."""
    from hfsa_spark.operators.similarity import (
        exact_topk_arrow,
        ivf_topk,
        synthesize_clustered_embeddings,
    )

    corpus = synthesize_clustered_embeddings(
        spark, 100_000, 64, noise=0.3
    ).localCheckpoint(eager=True)
    queries = corpus.filter(F.col("vec_id") < 16)
    gt: dict[int, set[int]] = {}
    for r in exact_topk_arrow(corpus, queries, k=10).collect():
        gt.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert len(gt) == 16 and all(len(s) == 10 for s in gt.values())

    r16 = _recall(
        ivf_topk(corpus, queries, k=10, n_probe=16, centroid_stride=100).collect(), gt
    )
    assert r16 >= 0.8, f"recall@10 at n_probe=16 regressed: {r16}"

    r1 = _recall(
        ivf_topk(corpus, queries, k=10, n_probe=1, centroid_stride=100).collect(), gt
    )
    assert r1 <= r16, "more probes must not lose recall"


def test_adc_rerank_recovers_recall_20k(spark):
    """Raw ADC ranking saturates on tied codes; the production shortlist +
    exact-rerank composition must recover most of the loss. Floors pin the
    ordering raw < rerank and a rerank floor."""
    from hfsa_spark.operators.similarity import (
        exact_topk_arrow,
        pq_adc_rerank_topk,
        pq_adc_topk_arrow,
        pq_codebooks_from_seeds,
        pq_encode,
        synthesize_clustered_embeddings,
    )

    corpus = synthesize_clustered_embeddings(
        spark, 20_000, 64, noise=0.3
    ).localCheckpoint(eager=True)
    queries = corpus.filter(F.col("vec_id") < 8)
    gt: dict[int, set[int]] = {}
    for r in exact_topk_arrow(corpus, queries, k=10, metric="l2").collect():
        gt.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    books = pq_codebooks_from_seeds(corpus, m=8, num_codes=256)
    # encoded once: the raw ADC ranking and the re-rank both read the codes
    codes = pq_encode(corpus, books).localCheckpoint(eager=True)
    raw = _recall(pq_adc_topk_arrow(codes, queries, books, k=10).collect(), gt)
    rer = _recall(
        pq_adc_rerank_topk(corpus, codes, queries, books, k=10, depth=200).collect(),
        gt,
    )
    assert rer >= max(raw, 0.6), (raw, rer)


def test_retrieval_eval_tiny(spark):
    from hfsa_spark.operators.similarity import retrieval_eval

    # 1-d embeddings on a line: ranking by cosine is degenerate, so use 2-d
    # points at distinct angles; label 1 = first three, label 2 = rest.
    rows = [
        (1, [1.0, 0.0], 1),
        (2, [0.9, 0.1], 1),
        (3, [0.8, 0.3], 1),
        (4, [0.0, 1.0], 2),
        (5, [0.1, 0.9], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    q = df.filter("vec_id = 1")
    got = {r["query_id"]: r for r in retrieval_eval(df, q, k=2).collect()}
    r1 = got[1]
    # top-2 by cosine for (1,0): vec 2 then vec 3 — both label 1
    assert r1["n_relevant"] == 2
    assert r1["hits_at_k"] == 2
    assert r1["first_rel_rank"] == 1
    assert r1["rr_micro"] == 1000000
    assert r1["recall_at_k_micro"] == 1000000

    # a query whose nearest neighbors are the OTHER label
    q2 = df.filter("vec_id = 4")
    r4 = {r["query_id"]: r for r in retrieval_eval(df, q2, k=1).collect()}[4]
    assert r4["n_relevant"] == 1
    assert r4["hits_at_k"] == 1  # vec 5 is both nearest and same-label
    assert r4["first_rel_rank"] == 1


def test_maxsim_topk(spark):
    """A doc with ONE highly-relevant chunk must beat a doc whose chunks
    are all mediocre — the late-interaction property."""
    from hfsa_spark.operators.similarity import maxsim_topk

    rows = [
        # doc 1: one perfect chunk + one orthogonal chunk
        (10, [1.0, 0.0], 1),
        (11, [0.0, 1.0], 1),
        # doc 2: two uniformly mediocre chunks
        (20, [0.7, 0.7], 2),
        (21, [0.6, 0.8], 2),
    ]
    chunks = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    q = spark.createDataFrame(
        [(99, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    got = maxsim_topk(chunks, q, k=2).collect()
    assert [(r["group"], r["rank"]) for r in got] == [(1, 1), (2, 2)]
    assert abs(got[0]["maxsim"] - 1.0) < 1e-12
