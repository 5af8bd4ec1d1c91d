"""IVF similarity search: assignment-path equivalence, probe recall vs the
exact brute-force baseline, and k-means refinement shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def centroids(emb):
    return emb.filter(F.col("vec_id") % 25 == 0)


def test_ivf_assign_arrow_matches_expression(spark, emb, centroids):
    from hfsa_spark.operators.similarity import ivf_assign, ivf_assign_arrow

    expr = {r["id"]: r["list_id"] for r in ivf_assign(emb, centroids).collect()}
    rows = centroids.select("vec_id", "embedding").collect()
    cmat = np.array([list(r["embedding"]) for r in rows])
    cids = [r["vec_id"] for r in rows]
    arrow = {
        r["id"]: r["list_id"] for r in ivf_assign_arrow(emb, cmat, cids).collect()
    }
    assert expr == arrow


def test_ivf_topk_shape_and_recall(spark, emb):
    from hfsa_spark.operators.similarity import cosine_topk, ivf_topk

    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    exact = cosine_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, n_probe=2, centroid_stride=25)

    rows = approx.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    for qid in (0, 1, 2):
        ranks = [r["rank"] for r in rows if r["query_id"] == qid]
        assert ranks == list(range(1, len(ranks) + 1))
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)

    # recall@5 of the probed-list search vs exact — deterministic data, so
    # this is a fixed number; the bound catches probe/assignment regressions
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for r in rows if r["neighbor_id"] in exact_sets[r["query_id"]])
    assert hits / max(sum(len(v) for v in exact_sets.values()), 1) >= 0.4


def test_ivf_assignment_no_shuffle(spark, emb, centroids):
    """The corpus must never shuffle during assignment (map-only plan)."""
    from hfsa_spark.operators.similarity import ivf_assign
    from hfsa_spark.plans import num_exchanges

    assigned = ivf_assign(emb, centroids)
    # one Exchange may appear from parallelize_compute's local repartition of
    # the tiny test file; on a many-split input there are none. Re-check with
    # min_partitions=1 (no repartition): strictly zero exchanges.
    base = emb.select("vec_id", "embedding")
    from hfsa_spark.operators.similarity import _collect_centroids, _make_scorer, l2_norm

    scorer = _make_scorer(_collect_centroids(centroids, "vec_id", "embedding"))
    pure = base.select(
        (-F.array_max(scorer(F.col("embedding"), l2_norm("embedding")))["neg_id"]).alias(
            "list_id"
        )
    )
    assert num_exchanges(pure) == 0
    assert num_exchanges(assigned) <= 1


def test_indexed_ivf_matches_direct_and_prunes_partitions(spark, emb, tmp_path):
    from hfsa_spark.operators.similarity import ivf_topk, ivf_topk_indexed, write_ivf_index
    from hfsa_spark.plans import explain_str

    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, path, centroid_stride=25)
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))

    direct = ivf_topk(emb, queries, k=5, n_probe=2, centroid_stride=25)
    indexed = ivf_topk_indexed(spark, path, queries, k=5, n_probe=2)
    assert [tuple(r) for r in direct.select("query_id", "rank", "neighbor_id").collect()] == [
        tuple(r) for r in indexed.select("query_id", "rank", "neighbor_id").collect()
    ]

    # the stored-index scan must prune to the probed list partitions
    plan = explain_str(indexed)
    assert "PartitionFilters" in plan
    assert "list_id" in plan.split("PartitionFilters", 1)[1][:300]


def test_kmeans_iterate_refines(spark, emb, centroids):
    from hfsa_spark.operators.similarity import kmeans_iterate

    refined = kmeans_iterate(emb, centroids, iters=1)
    rows = refined.collect()
    assert len(rows) <= centroids.count()  # empty lists may drop
    assert all(len(r["vec"]) == 64 for r in rows)


def test_quantize_long_matches_array_variant(spark):
    from pyspark.sql import functions as F

    from hfsa_spark.operators.similarity import (
        quantize_embeddings,
        quantize_embeddings_long,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    wide = (
        quantize_embeddings(emb, levels=256)
        .select("vec_id", "q_lo", "q_hi", F.posexplode("qvec").alias("pos", "code"))
        .select("vec_id", (F.col("pos") + 1).alias("dim"), "code", "q_lo", "q_hi")
    )
    long = quantize_embeddings_long(emb, levels=256)
    a = sorted(map(tuple, wide.collect()))
    b = sorted(map(tuple, long.collect()))
    assert a == b and len(a) > 0


def _np_pq(emb_rows, codebooks):
    """Float64 numpy twin of pq_encode (same index-ordered summation)."""
    import numpy as np

    m, d0 = len(codebooks), len(codebooks[0][0])
    out = {}
    for vid, vec in emb_rows:
        v = np.asarray(vec, dtype=np.float64)
        codes = []
        for mm in range(m):
            sub = v[mm * d0 : (mm + 1) * d0]
            d2 = [
                float(sum((sub[i] - cw[i]) * (sub[i] - cw[i]) for i in range(d0)))
                for cw in codebooks[mm]
            ]
            codes.append(min(range(len(d2)), key=lambda k: (d2[k], k)))
        out[vid] = codes
    return out


def test_pq_encode_matches_numpy_twin(spark):
    from hfsa_spark.operators.similarity import pq_codebooks_from_seeds, pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_codebooks_from_seeds(emb, m=4, num_codes=8)
    got = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb.limit(60), books).collect()}
    rows = [(r["vec_id"], list(r["embedding"])) for r in emb.limit(60).collect()]
    want = _np_pq(rows, books)
    assert got == want
    # seed vectors encode to themselves (d2 = 0 against their own slices)
    for vid in range(8):
        if vid in got:
            assert got[vid] == [vid] * 4


def test_pq_adc_topk_matches_numpy_twin(spark):
    import numpy as np

    from hfsa_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_seeds,
        pq_encode,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(80)
    books = pq_codebooks_from_seeds(emb, m=4, num_codes=8)
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id").isin(0, 5))
    got = [
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in pq_adc_topk(codes, queries, books, k=5).collect()
    ]

    rows = [(r["vec_id"], list(r["embedding"])) for r in emb.collect()]
    np_codes = _np_pq(rows, books)
    m, d0 = 4, len(books[0][0])
    want = []
    for qid in (0, 5):
        qv = np.asarray(dict(rows)[qid], dtype=np.float64)
        lut = [
            [
                float(sum((qv[mm * d0 + i] - cw[i]) ** 2 for i in range(d0)))
                for cw in books[mm]
            ]
            for mm in range(m)
        ]
        dists = [
            (sum(lut[mm][c[mm]] for mm in range(m)), vid)
            for vid, c in np_codes.items()
            if vid != qid
        ]
        for rank, (_, vid) in enumerate(sorted(dists), 1):
            if rank <= 5:
                want.append((qid, rank, vid))
    assert sorted(got) == sorted(want)


def test_pq_encode_long_matches_wide(spark):
    from pyspark.sql import functions as F

    from hfsa_spark.operators.similarity import (
        pq_codebooks_from_seeds,
        pq_encode,
        pq_encode_long,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(60)
    books = pq_codebooks_from_seeds(emb, m=4, num_codes=8)
    wide = {
        (r["vec_id"], m): c
        for r in pq_encode(emb, books).collect()
        for m, c in enumerate(r["codes"])
    }
    long = {
        (r["vec_id"], r["m"]): r["code"]
        for r in pq_encode_long(emb, books).collect()
    }
    assert long == wide and len(long) == 240


def test_pq_adc_arrow_agrees_with_expression_path(spark):
    from pyspark.sql import functions as F

    from hfsa_spark.operators.similarity import (
        pq_adc_topk,
        pq_adc_topk_arrow,
        pq_codebooks_from_seeds,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(150)
    books = pq_codebooks_from_seeds(emb, m=4, num_codes=8)
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id").isin(0, 7))
    expr = [
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in pq_adc_topk(codes, queries, books, k=5).collect()
    ]
    arrow = [
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in pq_adc_topk_arrow(codes, queries, books, k=5).collect()
    ]
    assert arrow == expr and len(arrow) == 10


def test_pq_adc_arrow_tiebreak_across_batches(spark):
    """ADC distances tie structurally whenever two corpus vectors share the
    same PQ codes. The batch-local top-k cut must break ties the same way
    the global ranking does — (dist asc, neighbor_id asc) — or a tied
    smaller-id neighbor can be evicted inside one Arrow batch."""
    from pyspark.sql import functions as F

    from hfsa_spark.operators.similarity import (
        pq_adc_topk,
        pq_adc_topk_arrow,
        pq_codebooks_from_seeds,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_codebooks_from_seeds(emb.limit(50), m=4, num_codes=4)
    base = emb.filter(F.col("vec_id") == 3).select("embedding")
    # 40 corpus rows with IDENTICAL embeddings (hence identical PQ codes
    # and exactly tied ADC distances), spread over several Arrow batches
    corpus = (
        spark.range(100, 140)
        .select(F.col("id").alias("vec_id"))
        .crossJoin(base)
        .repartition(8)
    )
    codes = pq_encode(corpus, books)
    queries = emb.filter(F.col("vec_id") == 0)
    expr = [
        (r["rank"], r["neighbor_id"])
        for r in pq_adc_topk(codes, queries, books, k=5).collect()
    ]
    arrow = [
        (r["rank"], r["neighbor_id"])
        for r in pq_adc_topk_arrow(codes, queries, books, k=5).collect()
    ]
    # global tiebreak keeps the five smallest ids among the tied 40
    assert [n for _, n in expr] == [100, 101, 102, 103, 104]
    assert arrow == expr


def test_pq_train_reduces_mse_and_composes_with_adc(spark):
    """Per-subvector Lloyd's k-means must beat the first-K seed codebooks
    on quantization MSE, be deterministic, and plug into the unchanged
    encode/ADC paths."""
    from hfsa_spark.operators.similarity import (
        pq_adc_topk_arrow,
        pq_codebooks_from_seeds,
        pq_encode,
        pq_mse,
        pq_train,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = pq_codebooks_from_seeds(emb, m=4, num_codes=8)
    trained = pq_train(emb, m=4, num_codes=8, iters=4)
    assert len(trained) == 4 and all(len(b) == 8 for b in trained)
    assert len(trained[0][0]) == 16

    mse_seed = pq_mse(emb, seeds)
    mse_trained = pq_mse(emb, trained)
    assert mse_trained < mse_seed * 0.9, (mse_trained, mse_seed)

    # determinism: same input → identical codebooks
    assert pq_train(emb, m=4, num_codes=8, iters=4) == trained

    # Lloyd's monotonicity: more iterations never increase MSE (beyond
    # float noise)
    mse_1 = pq_mse(emb, pq_train(emb, m=4, num_codes=8, iters=1))
    assert mse_trained <= mse_1 + 1e-12

    # the encode + ADC paths run unchanged on trained books
    codes = pq_encode(emb, trained)
    head = codes.limit(80).collect()
    assert all(len(r["codes"]) == 4 and all(0 <= c < 8 for c in r["codes"]) for r in head)
    out = pq_adc_topk_arrow(codes, emb.filter(F.col("vec_id") == 2), trained, k=5).collect()
    assert len(out) == 5


def test_exact_topk_arrow_matches_expression_bruteforce(spark):
    from pyspark.sql import functions as F

    from hfsa_spark.operators.similarity import cosine_topk, exact_topk_arrow

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id").isin(1, 4, 9))
    expr = [
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=7).collect()
    ]
    arrow = [
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in exact_topk_arrow(emb.repartition(8), queries, k=7).collect()
    ]
    assert arrow == expr and len(arrow) == 21


def test_exact_topk_arrow_l2_matches_numpy(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from hfsa_spark.operators.similarity import exact_topk_arrow

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = sorted(
        (r["vec_id"], np.array(r["embedding"])) for r in emb.collect()
    )
    ids = np.array([i for i, _ in rows])
    x = np.stack([v for _, v in rows])
    q = x[ids == 5][0]
    d = ((x - q) ** 2).sum(axis=1)
    mask = ids != 5
    order = np.lexsort((ids[mask], d[mask]))[:6]
    want = list(ids[mask][order])
    got = [
        r["neighbor_id"]
        for r in exact_topk_arrow(
            emb, emb.filter(F.col("vec_id") == 5), k=6, metric="l2"
        ).collect()
    ]
    assert got == want


def test_kmeans_parallel_init(spark):
    """k-means|| must (a) be deterministic, (b) pick k actual corpus
    points, (c) beat naive first-K seeding on clustering cost for a
    corpus whose first K points sit in one cluster."""
    import random

    from hfsa_spark.operators.similarity import kmeans_parallel_init

    rng = random.Random(5)
    rows = []
    # three tight clusters at (0,0), (10,0), (0,10); the first 4 ids all in
    # cluster A so first-K seeding is pathological
    centers = [(0.0, 0.0)] * 4 + [(10.0, 0.0), (0.0, 10.0)] * 8
    vid = 0
    for cx, cy in centers + [(0.0, 0.0)] * 10:
        rows.append((vid, [cx + rng.uniform(-0.5, 0.5), cy + rng.uniform(-0.5, 0.5)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    got = kmeans_parallel_init(df, k=3, rounds=2, seed=11).collect()
    again = kmeans_parallel_init(df, k=3, rounds=2, seed=11).collect()
    assert [r["src_vec_id"] for r in got] == [r["src_vec_id"] for r in again]
    assert len(got) == 3
    ids = {r["vec_id"]: r["embedding"] for r in df.collect()}
    assert all(tuple(r["embedding"]) == tuple(ids[r["src_vec_id"]]) for r in got)

    def cost(cents):
        tot = 0.0
        for v in ids.values():
            tot += min(
                sum((a - b) ** 2 for a, b in zip(v, c)) for c in cents
            )
        return tot

    init_cost = cost([r["embedding"] for r in got])
    naive_cost = cost([ids[0], ids[1], ids[2]])  # first-K: all in cluster A
    assert init_cost < naive_cost
    # with 3 well-separated clusters the init should cover all three
    assert init_cost < 0.1 * naive_cost


def test_kmeans_parallel_init_feeds_ivf(spark):
    """Composition contract: k-means|| output → Lloyd refinement →
    IVF assignment, all on DataFrames, no reshaping beyond a rename."""
    import random

    from hfsa_spark.operators.similarity import (
        ivf_assign,
        kmeans_iterate,
        kmeans_parallel_init,
    )

    rng = random.Random(9)
    rows = []
    for vid in range(60):
        cx, cy = [(0.0, 5.0), (5.0, 0.0), (4.0, 4.0)][vid % 3]
        rows.append(
            (vid, [cx + rng.uniform(-0.3, 0.3), cy + rng.uniform(-0.3, 0.3)])
        )
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    init = kmeans_parallel_init(df, k=3, rounds=2, seed=7).select(
        F.col("centroid_id").alias("vec_id"), "embedding"
    )
    refined = kmeans_iterate(df, init, iters=2)
    cents = refined.select(
        F.col("centroid_id").alias("vec_id"), F.col("vec").alias("embedding")
    )
    assigned = ivf_assign(df, cents)
    got = {r["id"]: r["list_id"] for r in assigned.collect()}
    assert len(got) == 60
    # the three planted clusters land in three distinct lists, coherently
    by_cluster = {}
    for vid, lid in got.items():
        by_cluster.setdefault(vid % 3, set()).add(lid)
    assert all(len(s) == 1 for s in by_cluster.values())
    assert len(set().union(*by_cluster.values())) == 3


def test_matryoshka_overlap_identity_and_rows(spark):
    from pyspark.sql import functions as F

    from hfsa_spark.operators.similarity import (
        matryoshka_overlap,
        synthesize_clustered_embeddings,
    )

    emb = synthesize_clustered_embeddings(spark, 200, dim=16).cache()
    qs = emb.filter(F.col("vec_id") < 3)
    out = matryoshka_overlap(emb, qs, dims=[16, 4], k=5).collect()
    rows = {(r["query_id"], r["dim"]): r["overlap_at_k"] for r in out}
    # one row per (query, dim), full-dim "truncation" is identity → k
    assert len(rows) == 6
    for qid in range(3):
        assert rows[(qid, 16)] == 5
        assert 0 <= rows[(qid, 4)] <= 5
