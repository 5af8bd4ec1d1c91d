"""Similarity search over embedding columns (``array<float>``).

Beyond-reference surface (SURVEY.md §7 phase 4): brute-force cosine top-k
as the exact baseline, and a sign-bit LSH bucketed variant as the scale
path.

Scale design:
* the **query side is broadcast** (queries are few; the corpus is the
  100 TB side) — the corpus is scanned once, never shuffled.
* dot products run as ``aggregate(zip_with(...))`` higher-order
  expressions — JVM-side, whole-stage codegen, no Python in the loop.
* top-k per query is a window over (query, score) — with the broadcast
  join, the only shuffle is the final per-query top-k, whose input is
  already reduced to (query_id, corpus_id, score).
* the LSH variant buckets both sides by sign bits of selected dimensions;
  probing scans only matching buckets (a partition-prunable predicate if
  the corpus is written bucketed/partitioned by the signature).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hfsa_spark.plans import driver_listing, parallelize_compute


def dot(a: Column | str, b: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(ca, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def l2_normalize_df(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "unit"
) -> DataFrame:
    """Bulk unit-normalization: adds ``out_col`` (array<double>) plus the
    per-row ``l2_norm`` column. The norm is computed ONCE per row in its
    own projection — the transform lambda only references the column, so
    the per-element work is a single divide (O(dim) per row, vs O(dim²)
    for the inline-Column form; CollapseProject keeps the projections
    separate because the fold is not a cheap expression)."""
    normed = df.withColumn("__l2", l2_norm(vec_col))
    unit = F.transform(
        F.col(vec_col),
        lambda x: F.when(F.col("__l2") == 0.0, F.lit(0.0)).otherwise(
            x.cast("double") / F.col("__l2")
        ),
    )
    return normed.withColumn(out_col, unit).withColumnRenamed("__l2", "l2_norm")


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 256,
) -> DataFrame:
    """Per-vector scalar quantization: each element mapped to an integer
    code 0..levels−1 over the vector's own [min, max] range — (id, qvec,
    q_lo, q_hi); dequantize as lo + code/(levels−1)·(hi−lo), max error
    (hi−lo)/(2·(levels−1)).

    The storage-side primitive for embedding tables: float32→int8 is a 4×
    scan-size cut, which at 100 TB is the difference between a cached and
    an I/O-bound ANN sweep. Map-only (zero shuffles); the rounding is
    floor(r + 0.5) — explicitly, not round() — because round()'s
    half-even/half-up convention differs across engines while floor is
    universal. All arithmetic is ulp-deterministic: per-element IEEE ops
    on an identical expression tree, no accumulation.
    """
    # lo/hi materialize in their own projection: inside the transform
    # lambda the interpreted HOF would re-scan the array per ELEMENT
    # (O(dim²) per row) — as columns they are computed once per row.
    base = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.array_min(vec_col).cast("double").alias("q_lo"),
        F.array_max(vec_col).cast("double").alias("q_hi"),
    )
    scale = F.col("q_hi") - F.col("q_lo")
    codes = F.transform(
        F.col("__v"),
        lambda x: F.when(scale == 0.0, F.lit(0)).otherwise(
            F.floor(
                (x.cast("double") - F.col("q_lo")) / scale * F.lit(float(levels - 1))
                + 0.5
            ).cast("int")
        ),
    )
    return base.select(F.col(id_col), codes.alias("qvec"), "q_lo", "q_hi")


def _pq_d2_sql(vec_col: str, codeword: list[float], start: int, d0: int) -> str:
    """Squared L2 distance between slice(vec, start, d0) and a literal
    codeword, as one SQL expression: index-ordered left-to-right fold, so
    the double result is bit-identical to any engine that sums the same
    terms in the same order (the DuckDB oracle does)."""
    csv = ", ".join(repr(float(v)) for v in codeword)
    return (
        f"aggregate(zip_with(slice({vec_col}, {start}, {d0}), array({csv}),"
        f" (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
        f" cast(0.0 as double), (a, v) -> a + v)"
    )


def pq_codebooks_from_seeds(
    corpus: DataFrame,
    m: int = 4,
    num_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: subvector m's codewords are the first
    ``num_codes`` corpus vectors' (id < num_codes) m-th subvector slices —
    the seed-sampling analog of q39's stride centroids, so every gate
    oracle can re-derive the codebooks from the table itself. Returns
    codebooks[m][k] = list of d0 floats. For production recall, train with
    per-subvector k-means — :func:`pq_train` — instead (these seeds are
    its default initialization)."""
    rows = (
        corpus.filter(F.col(id_col) < num_codes)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    dim = len(rows[0][vec_col])
    d0 = dim // m
    return [
        [[float(x) for x in r[vec_col][mm * d0 : (mm + 1) * d0]] for r in rows]
        for mm in range(m)
    ]


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    num_codes: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: list[list[list[float]]] | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks with per-subvector Lloyd's k-means (squared L2)
    — the production replacement for :func:`pq_codebooks_from_seeds`'
    first-K sampling, cutting quantization MSE (pytest pins the
    improvement on a seeded corpus).

    Scale shape: each iteration is ONE map-only Arrow pass over the corpus
    computing per-(subvector, code, dim) partial sums + counts with a
    matmul argmin (map-side combine inside the Python worker); the shuffle
    carries M×K×(dim/M) rows per partition — bounded by the codebook size,
    NEVER the corpus — and the mean update folds on the driver over the
    tiny aggregated table. The corpus is never shuffled, same posture as
    pq_encode/ivf assignment. Empty cells keep their previous codeword
    (standard Lloyd's fallback), so K never collapses.
    """
    import numpy as np

    books = [
        np.asarray(b, dtype=np.float64)
        for b in (init or pq_codebooks_from_seeds(corpus, m, num_codes, id_col, vec_col))
    ]
    k_codes = books[0].shape[0]
    d0 = books[0].shape[1]
    vecs = corpus.select(vec_col)

    for _ in range(iters):
        bks = [b.copy() for b in books]

        def part(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
            import numpy as _np
            import pandas as _pd

            sums = _np.zeros((m, k_codes, d0))
            cnts = _np.zeros((m, k_codes), dtype=_np.int64)
            seen = False
            for batch in batches:
                if not len(batch):
                    continue
                seen = True
                x = _np.asarray(batch[vec_col].tolist(), dtype=_np.float64)
                for mm in range(m):
                    s = x[:, mm * d0 : (mm + 1) * d0]
                    # argmin ||s-c||² == argmin (||c||² - 2 s·c); ties →
                    # smallest code id (argmin returns the first minimum)
                    a = ((bks[mm] ** 2).sum(axis=1) - 2.0 * (s @ bks[mm].T)).argmin(axis=1)
                    _np.add.at(sums[mm], a, s)
                    _np.add.at(cnts[mm], a, 1)
            if not seen:
                return
            mmi, ki, pi = _np.meshgrid(
                _np.arange(m), _np.arange(k_codes), _np.arange(d0), indexing="ij"
            )
            yield _pd.DataFrame(
                {
                    "m": mmi.ravel(),
                    "k": ki.ravel(),
                    "pos": pi.ravel(),
                    "s": sums.ravel(),
                    # count rides on pos 0 only (it's per-(m,k), not per-dim)
                    "c": _np.where(pi.ravel() == 0, cnts[mmi.ravel(), ki.ravel()], 0),
                }
            )

        agg = (
            vecs.mapInPandas(part, schema="m int, k int, pos int, s double, c long")
            .groupBy("m", "k", "pos")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .collect()
        )
        sums = np.zeros((m, k_codes, d0))
        cnts = np.zeros((m, k_codes), dtype=np.int64)
        for r in agg:
            sums[r["m"], r["k"], r["pos"]] = r["s"]
            if r["pos"] == 0:
                cnts[r["m"], r["k"]] = r["c"]
        for mm in range(m):
            nz = cnts[mm] > 0
            books[mm][nz] = sums[mm][nz] / cnts[mm][nz, None]
    return [[[float(x) for x in cw] for cw in b] for b in books]


def pq_mse(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> float:
    """Mean squared reconstruction error of a PQ codebook over the corpus
    (per-vector ||x − decode(encode(x))||²/dim, averaged) — the
    quantization-quality number pq_train is judged by. One map-only Arrow
    pass emitting (sse, n) per batch; a single two-row-ish global agg."""
    import numpy as np

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    d0 = books[0].shape[1]

    def part(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as _np
        import pandas as _pd

        for batch in batches:
            if not len(batch):
                continue
            x = _np.asarray(batch[vec_col].tolist(), dtype=_np.float64)
            sse = 0.0
            for mm in range(m):
                s = x[:, mm * d0 : (mm + 1) * d0]
                a = ((books[mm] ** 2).sum(axis=1) - 2.0 * (s @ books[mm].T)).argmin(axis=1)
                sse += float(((s - books[mm][a]) ** 2).sum())
            yield _pd.DataFrame({"sse": [sse], "n": [len(x)]})

    row = (
        corpus.select(vec_col)
        .mapInPandas(part, schema="sse double, n long")
        .agg(F.sum("sse").alias("sse"), F.sum("n").alias("n"))
        .collect()[0]
    )
    return row["sse"] / (row["n"] * m * d0)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encode: the vector is split into M subvectors;
    each maps to its nearest codeword id (squared L2, ties → smaller id).
    Output: (id, codes array<int>) — M bytes-ish per vector instead of
    dim×4, the compression that keeps a 100 TB embedding corpus scannable.

    Map-only (zero shuffles): codebooks are tiny and embedded as literal
    expressions, the argmin runs per row inside the scan stage — the
    100 TB side is never shuffled, exactly like the IVF assignment.
    """
    m = len(codebooks)
    d0 = len(codebooks[0][0])
    code_exprs = []
    for mm in range(m):
        structs = ", ".join(
            f"struct({_pq_d2_sql(vec_col, cw, mm * d0 + 1, d0)} as d2, {k} as k)"
            for k, cw in enumerate(codebooks[mm])
        )
        code_exprs.append(f"array_min(array({structs})).k")
    codes = "array(" + ", ".join(code_exprs) + ")"
    return df.select(F.col(id_col), F.expr(codes).alias("codes"))


def pq_encode_long(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exploded twin of :func:`pq_encode`: (id, m, code), one row per
    subvector. NOT explode(pq_encode(...)): a Generate over the codes
    expression re-inlines all M×K interpreted distance folds into the
    generator filter (evaluated twice per row — measured 2×; same trap as
    quantize_embeddings_long). Here the subvector index explodes FIRST
    (a literal sequence — trivial generator filter) and a lazy CASE picks
    the single subvector argmin each row actually needs, so every
    distance fold runs exactly once, with the same left-to-right float
    math as pq_encode (bit-identical codes)."""
    m = len(codebooks)
    d0 = len(codebooks[0][0])
    branches = []
    for mm in range(m):
        structs = ", ".join(
            f"struct({_pq_d2_sql(vec_col, cw, mm * d0 + 1, d0)} as d2, {k} as k)"
            for k, cw in enumerate(codebooks[mm])
        )
        branches.append(f"WHEN {mm} THEN array_min(array({structs})).k")
    code = f"CASE m {' '.join(branches)} END"
    return (
        df.select(F.col(id_col), F.col(vec_col), F.explode(F.expr(f"sequence(0, {m - 1})")).alias("m"))
        .select(F.col(id_col), F.col("m").cast("int").alias("m"), F.expr(code).cast("int").alias("code"))
    )


def pq_adc_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query computes
    an M×K lookup table of squared distances to every codeword ONCE, then
    every corpus vector's approximate distance is M table lookups — no
    decode, no per-pair vector math.

    Scale: the LUT rides on the broadcast query side; the codes table (the
    100 TB side) is scanned once with a per-row O(M) lookup sum; the only
    shuffle is the final per-query top-k, input already reduced to
    (query_id, neighbor_id, dist). Output: (query_id, rank, neighbor_id),
    rank by (dist asc, neighbor_id asc).
    """
    m = len(codebooks)
    d0 = len(codebooks[0][0])
    lut_rows = ", ".join(
        "array("
        + ", ".join(_pq_d2_sql(vec_col, cw, mm * d0 + 1, d0) for cw in codebooks[mm])
        + ")"
        for mm in range(m)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(f"array({lut_rows})").alias("__lut"),
    )
    dist = F.expr(
        "aggregate(zip_with(codes, __lut, (c, row) -> element_at(row, c + 1)),"
        " cast(0.0 as double), (a, v) -> a + v)"
    )
    scored = (
        codes_df.select(F.col(id_col).alias("neighbor_id"), "codes")
        .join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dist.alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def pq_adc_topk_arrow(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The cluster-scale ADC path: per-query M×K lookup tables are built
    ONCE on the driver (queries are few and the LUT is M×K doubles), ride
    to executors via closure capture, and each Arrow batch scores all its
    code rows with one numpy gather+sum per query — then emits only its
    BATCH-LOCAL top-k, so the final global top-k sees (num_batches × k)
    rows per query instead of the full corpus. 1M vectors: 30.6 s
    interpreted-expression path → ~1 s this path (measured,
    PERFORMANCE.md "ANN scale probe")."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    d0 = books[0].shape[1]
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = [int(r[id_col]) for r in q_rows]
    luts = []
    for r in q_rows:
        qv = np.asarray(r[vec_col], dtype=np.float64)
        luts.append(
            np.stack(
                [
                    ((qv[mm * d0 : (mm + 1) * d0] - books[mm]) ** 2).sum(axis=1)
                    for mm in range(m)
                ]
            )
        )

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for batch in batches:
            if not len(batch):
                continue
            codes = np.asarray(batch["codes"].tolist(), dtype=np.int64)
            ids = batch[id_col].to_numpy()
            rows = np.arange(m)
            for qid, lut in zip(q_ids, luts):
                dist = lut[rows, codes].sum(axis=1)  # gather: (n, m) -> sum
                mask = ids != qid
                d, i = dist[mask], ids[mask]
                if len(d) > k:
                    # ADC distances tie structurally (identical PQ codes ⇒
                    # exactly equal distance), so the batch-local cut must
                    # use the SAME (dist asc, neighbor_id asc) order as the
                    # global ranking — argpartition's arbitrary tie-breaks
                    # could evict a neighbor the global sort would keep
                    order = np.lexsort((i, d))[:k]
                    d, i = d[order], i[order]
                yield pd.DataFrame(
                    {"query_id": qid, "neighbor_id": i, "dist": d}
                )

    scored = codes_df.select(id_col, "codes").mapInPandas(
        run, schema="query_id bigint, neighbor_id bigint, dist double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def pq_adc_rerank_topk(
    corpus: DataFrame,
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    depth: int = 100,
    metric: str = "l2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC shortlist + EXACT re-rank — the composition production ANN
    actually ships: PQ codes prune the corpus to ``depth`` candidates per
    query (M table lookups per row, compressed index), then the true
    vectors of the shortlist are fetched and re-ranked exactly. Raw ADC
    ranking saturates when near neighbors share codes (tied distances —
    measured recall@10 ≈ k/cluster_size on clustered corpora,
    PERFORMANCE.md "ANN recall@10"); the re-rank restores it at the cost of
    ``depth`` exact distances per query.

    Scale shape: the candidate id set (queries × depth) is broadcast and
    semi-joins the corpus — ONE corpus scan, no corpus shuffle; the exact
    re-rank then runs on the tiny shortlist. The shortlist is the UNION of
    all queries' candidates (a candidate of any query may be scored for
    all — extra true candidates only improve accuracy), which keeps the
    fetch a single semi join instead of a per-query join."""
    cand = (
        pq_adc_topk_arrow(
            codes_df, queries, codebooks, k=depth, id_col=id_col, vec_col=vec_col
        )
        .select(F.col("neighbor_id").alias(id_col))
        .distinct()
    )
    shortlist = corpus.join(F.broadcast(cand), id_col, "left_semi")
    return exact_topk_arrow(
        shortlist, queries, k=k, metric=metric, id_col=id_col, vec_col=vec_col
    )


def quantize_embeddings_long(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 256,
) -> DataFrame:
    """Exploded (long-format) twin of :func:`quantize_embeddings`:
    (id, dim, code, q_lo, q_hi), one row per vector element.

    NOT expressed as explode(quantize_embeddings(...)): a Generate over a
    higher-order-function column triggers InferFiltersFromGenerate, which
    inlines the interpreted transform lambda — including the per-element
    array_min/array_max folds, O(dim²)/row — into the scan filter
    (measured 4.6× slower). Exploding the RAW array first keeps the
    generator filter a cheap size()/isnotnull and the per-element code a
    scalar whole-stage-codegen expression.
    """
    base = df.select(
        F.col(id_col),
        F.array_min(vec_col).cast("double").alias("q_lo"),
        F.array_max(vec_col).cast("double").alias("q_hi"),
        F.posexplode(vec_col).alias("pos", "__x"),
    )
    scale = F.col("q_hi") - F.col("q_lo")
    code = F.when(scale == 0.0, F.lit(0)).otherwise(
        F.floor(
            (F.col("__x").cast("double") - F.col("q_lo")) / scale
            * F.lit(float(levels - 1))
            + 0.5
        ).cast("int")
    )
    return base.select(
        F.col(id_col),
        (F.col("pos") + 1).cast("int").alias("dim"),
        code.alias("code"),
        "q_lo",
        "q_hi",
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cos_sim, rank), rank 1..k, ties broken
    by neighbor id asc for determinism. Self-matches excluded.
    """
    # norms precomputed per side: the query norm would otherwise be
    # re-folded for every (query, corpus-row) pair
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        l2_norm(vec_col).alias("__qnorm"),
    )
    c = parallelize_compute(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        l2_norm(vec_col).alias("__cnorm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", dot("__qvec", "__cvec") / (F.col("__qnorm") * F.col("__cnorm")))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def synthesize_clustered_embeddings(
    spark,
    n: int,
    dim: int = 64,
    n_clusters: int = 256,
    noise: float = 0.15,
) -> DataFrame:
    """Deterministic CLUSTERED synthetic embedding corpus, generated
    executor-side (no driver materialization): vector i = center(i mod
    n_clusters) + noise·jitter(i), every component an integer-hash map to
    [-1, 1). The cluster structure makes it a meaningful recall benchmark
    (uniform random vectors have no neighbors to find); used by the
    recall-floor pytest (PERFORMANCE.md "ANN recall@10" has the curve)."""
    vec_expr = (
        f"transform(sequence(1, {dim}), j ->"
        f" cast(pmod(hash((id % {n_clusters}) * {dim} + j + 1000003), 10007) as double)"
        f" / 5003.5 - 1.0"
        f" + {float(noise)!r}D * (cast(pmod(hash(id * {dim} + j + 2000003), 10007) as double)"
        f" / 5003.5 - 1.0))"
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.expr(vec_expr).alias("embedding")
    )


def exact_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force EXACT top-k at scale — the ground truth every
    approximate path's recall is measured against (and the honest baseline
    when the corpus fits a full scan). Queries are collected driver-side
    (they are few) and ride to executors in the closure; the corpus
    streams through Arrow batches with ONE BLAS matmul per (batch ×
    query-set), each batch emitting only its LOCAL top-k, so the global
    ranking sees batches×k rows — the same no-corpus-shuffle posture as
    :func:`pq_adc_topk_arrow`. ``metric``: 'cosine' (similarity desc) or
    'l2' (squared distance asc). Ties break on neighbor_id asc, matching
    the expression twins."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = [int(r[id_col]) for r in q_rows]
    qmat = np.asarray([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for batch in batches:
            if not len(batch):
                continue
            x = np.asarray(batch[vec_col].tolist(), dtype=np.float64)
            ids = batch[id_col].to_numpy()
            if metric == "cosine":
                xn = np.linalg.norm(x, axis=1)
                # score ascending = negative cosine so one lexsort serves both
                scores = -(x @ qmat.T) / np.outer(xn, qnorm)
            else:
                scores = (
                    (x * x).sum(axis=1)[:, None]
                    - 2.0 * (x @ qmat.T)
                    + (qmat * qmat).sum(axis=1)[None, :]
                )
            for col, qid in enumerate(q_ids):
                mask = ids != qid
                s, i = scores[mask, col], ids[mask]
                if len(s) > k:
                    order = np.lexsort((i, s))[:k]  # global tie-break twin
                    s, i = s[order], i[order]
                yield pd.DataFrame({"query_id": qid, "neighbor_id": i, "score": s})

    scored = corpus.select(id_col, vec_col).mapInPandas(
        run, schema="query_id bigint, neighbor_id bigint, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col("neighbor_id").asc()
    )
    out_score = (
        (-F.col("score")).alias("cos_sim") if metric == "cosine" else F.col("score").alias("dist")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", out_score, "rank")
        .orderBy("query_id", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query, the
    top-k most similar corpus vectors with a DIFFERENT label (similar
    enough to be confusing, labeled differently — the classic in-batch /
    ANN-mined negatives recipe). Same no-corpus-shuffle posture as
    :func:`exact_topk_arrow`: queries (ids, vectors, labels) ride in the
    closure, each Arrow batch emits only its local top-k, the global
    ranking sees batches×k rows. Ties break (score, neighbor_id) —
    matching the SQL oracle.

    Returns (query_id, neighbor_id, neighbor_label, rank)."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    q_rows = queries.select(id_col, vec_col, label_col).collect()
    q_ids = [int(r[id_col]) for r in q_rows]
    q_labels = [r[label_col] for r in q_rows]
    qmat = np.asarray([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for batch in batches:
            if not len(batch):
                continue
            x = np.asarray(batch[vec_col].tolist(), dtype=np.float64)
            ids = batch[id_col].to_numpy()
            labels = batch[label_col].to_numpy()
            if metric == "cosine":
                xn = np.linalg.norm(x, axis=1)
                scores = -(x @ qmat.T) / np.outer(xn, qnorm)
            else:
                scores = (
                    (x * x).sum(axis=1)[:, None]
                    - 2.0 * (x @ qmat.T)
                    + (qmat * qmat).sum(axis=1)[None, :]
                )
            for col, (qid, qlab) in enumerate(zip(q_ids, q_labels)):
                mask = (ids != qid) & (labels != qlab)
                s, i, lab = scores[mask, col], ids[mask], labels[mask]
                if len(s) > k:
                    order = np.lexsort((i, s))[:k]
                    s, i, lab = s[order], i[order], lab[order]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": i,
                        "neighbor_label": lab,
                        "score": s,
                    }
                )

    scored = corpus.select(id_col, vec_col, label_col).mapInPandas(
        run,
        schema="query_id bigint, neighbor_id bigint, neighbor_label int, score double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "rank")
        .orderBy("query_id", "rank")
    )


def sign_lsh_bucket(vec: Column | str, dims: list[int]) -> Column:
    """Signature int from the sign bits of the selected dimensions
    (element_at is 1-based). 4 dims → 16 buckets; at scale use 8-12 dims
    and write the corpus partitioned by this column for pruned probes."""
    v = F.col(vec) if isinstance(vec, str) else vec
    sig = F.lit(0)
    for i, d in enumerate(dims):
        sig = sig + F.when(F.element_at(v, d + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_dims: list[int] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos_sim ≥
    threshold): the dedup-by-embedding primitive — feed the output to
    :func:`hfsa_spark.operators.dedup.connected_components` for groups.

    Candidate generation is the sign-bit LSH bucket (near-identical vectors
    share all sign bits, so recall at high thresholds is excellent); the
    self-join shuffles on the bucket key — never a global cross join — and
    exact cosine verifies each candidate. More dims → smaller buckets →
    fewer candidates; at corpus scale write the table partitioned by the
    signature so the join is partition-local.
    """
    dims = lsh_dims or [0, 1, 2, 3]
    sided = parallelize_compute(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        l2_norm(vec_col).alias("norm"),
        sign_lsh_bucket(vec_col, dims).alias("bucket"),
    )
    a, b = sided.alias("a"), sided.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn(
            "cos_sim",
            dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.norm") * F.col("b.norm")),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cos_sim")
    )


def _centroid_array_expr(rows: list[tuple[int, list[float], float]]) -> Column:
    """Literal ``array<struct<cid,cvec,cnorm>>`` of centroids, built as ONE
    SQL string (one parse) rather than thousands of py4j Column calls.
    ``repr(float)`` round-trips exactly; the ``D`` suffix keeps the parser
    on DOUBLE (bare decimals parse as DECIMAL in Spark SQL)."""
    items = []
    for cid, vec, norm in rows:
        arr = ",".join(f"{float(x)!r}D" for x in vec)
        items.append(
            f"named_struct('cid', CAST({int(cid)} AS BIGINT),"
            f" 'cvec', array({arr}), 'cnorm', {float(norm)!r}D)"
        )
    return F.expr("array(" + ",".join(items) + ")")


def _collect_centroids(centroids: DataFrame, id_col: str, vec_col: str):
    """Collect the (small) centroid table as sorted (cid, vec, norm) rows —
    sorted by cid so the literal is stable and numpy argmax ties land on
    the minimum cid, matching the expression tie-break."""
    return sorted(
        (r[0], list(r[1]), float(r[2]))
        for r in centroids.select(id_col, vec_col, l2_norm(vec_col)).collect()
    )


def _make_scorer(cent_rows):
    """Per-row scorer over the centroid literal: scorer(vec, vnorm) →
    array<struct<cos, neg_id>>. Building (and codegen-compiling) the
    literal costs O(C × dim) — only worth it for small centroid sets."""
    cent_arr = _centroid_array_expr(cent_rows)

    def scored_centroids(vec: Column, vnorm: Column) -> Column:
        return F.transform(
            cent_arr,
            lambda c: F.struct(
                (dot(vec, c["cvec"]) / (vnorm * c["cnorm"])).alias("cos"),
                (-c["cid"]).alias("neg_id"),
            ),
        )

    return scored_centroids


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only nearest-centroid (cosine) assignment: (id, list_id).

    The expression twin of :func:`ivf_assign_arrow` — no shuffle; at scale,
    write the output partitioned by ``list_id`` so probes prune partitions.
    """
    scorer = _make_scorer(_collect_centroids(centroids, id_col, vec_col))
    return parallelize_compute(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("id"),
        (-F.array_max(scorer(F.col(vec_col), l2_norm(vec_col)))["neg_id"]).alias("list_id"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
    centroid_stride: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expr_centroid_limit: int = 32,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    every corpus vector to its nearest centroid (spherical/cosine metric);
    each query probes only the ``n_probe`` nearest inverted lists and exact
    cosine re-ranks the candidates. Same output shape as
    :func:`cosine_topk`.

    Scale design — the three IVF stages map to Spark like this:

    * **assignment is map-only**: the centroid table is tiny (≈√N lists for
      N vectors), so it is embedded as a literal array expression — the
      argmax over centroids runs inside whole-stage codegen per corpus row,
      with NO shuffle of the 100 TB side (and at real scale the assignment
      is written once, partitioned by ``list_id``, and reused per query
      batch — see :func:`ivf_assign_arrow` for the BLAS variant).
    * **probing prunes**: queries explode to ``n_probe`` (query, list_id)
      rows and broadcast; the candidate join touches only the probed lists
      (partition-prunable when the assignment is stored partitioned by
      ``list_id``).
    * the final top-k window sees only candidate rows already reduced to
      (query_id, neighbor_id, cos_sim).

    Centroids default to a deterministic sample (``id % centroid_stride ==
    0``) so the result carries an exact SQL oracle; pass a learned centroid
    table (e.g. from :func:`kmeans_iterate`) for better recall.

    Ties (equal cosine) break toward the smaller centroid id / neighbor id
    — deterministic and mirrored in the oracle.
    """
    if centroids is None:
        centroids = corpus.filter((F.col(id_col) % centroid_stride) == 0)
    cent_rows = _collect_centroids(centroids, id_col, vec_col)

    if len(cent_rows) <= expr_centroid_limit:
        # expression path: exact twin of the SQL oracle, fully declarative
        scored_centroids = _make_scorer(cent_rows)
        assigned = parallelize_compute(corpus.select(id_col, vec_col)).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec"),
            l2_norm(vec_col).alias("__cnorm"),
        ).withColumn(
            # argmax cosine; struct max breaks cos-ties on max(-cid) = min cid
            "list_id",
            -F.array_max(scored_centroids(F.col("__cvec"), F.col("__cnorm")))["neg_id"],
        )
        probes = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            l2_norm(vec_col).alias("__qnorm"),
        ).withColumn(
            # top n_probe centroids: the last n_probe of the ascending
            # (cos, -cid) sort are the highest-cosine lists
            "list_id",
            F.explode(
                F.transform(
                    F.slice(
                        F.array_sort(scored_centroids(F.col("__qvec"), F.col("__qnorm"))),
                        -n_probe,
                        n_probe,
                    ),
                    lambda s: -s["neg_id"],
                )
            ),
        )
    else:
        # big centroid sets: the C × dim literal costs seconds of plan
        # build + codegen and the higher-order folds are interpreted
        # (CodegenFallback) — both sides switch to the Arrow/BLAS kernel
        # (one matmul per batch); argmax/argsort tie-break stays min-cid
        cmat = [vec for _, vec, _ in cent_rows]
        cids = [cid for cid, _, _ in cent_rows]
        assigned = ivf_assign_arrow(
            corpus, cmat, cids, id_col=id_col, vec_col=vec_col, include_vec=True
        ).select(
            F.col("id").alias("neighbor_id"),
            F.col("vec").alias("__cvec"),
            F.col("norm").alias("__cnorm"),
            "list_id",
        )
        probes = _ivf_probe_arrow(
            queries, cmat, cids, n_probe, id_col=id_col, vec_col=vec_col
        )

    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", dot("__qvec", "__cvec") / (F.col("__qnorm") * F.col("__cnorm")))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _ivf_probe_arrow(
    queries: DataFrame,
    centroid_matrix,
    centroid_ids,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow twin of the expression probe: one (query, list_id) row per
    probed list, carrying the query vector + norm for the candidate join.
    Ordering/ties match the expression path: cos desc, centroid id asc."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    cmat = np.asarray(centroid_matrix, dtype=np.float64)
    cids = np.asarray(centroid_ids, dtype=np.int64)
    cnorm = np.linalg.norm(cmat, axis=1)

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for batch in batches:
            if not len(batch):
                continue
            vecs = np.asarray(batch[vec_col].tolist(), dtype=np.float64)
            vnorm = np.linalg.norm(vecs, axis=1)
            cos = (vecs @ cmat.T) / np.outer(vnorm, cnorm)
            out = []
            for i in range(len(batch)):
                order = np.lexsort((cids, -cos[i]))[:n_probe]
                for j in order:
                    out.append(
                        (int(batch[id_col].iloc[i]), list(vecs[i]), float(vnorm[i]), int(cids[j]))
                    )
            yield pd.DataFrame(
                out, columns=["query_id", "__qvec", "__qnorm", "list_id"]
            )

    return queries.select(id_col, vec_col).mapInPandas(
        run, schema="query_id bigint, __qvec array<double>, __qnorm double, list_id bigint"
    )


def ivf_assign_arrow(
    corpus: DataFrame,
    centroid_matrix,
    centroid_ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_vec: bool = False,
    min_partitions: int | None = None,
) -> DataFrame:
    """The cluster-scale IVF assignment path: Arrow-batched ``mapInPandas``
    with a numpy centroid matrix (BLAS matmul argmax) — for centroid counts
    where a literal expression would bloat the plan (≥ thousands of lists,
    the realistic 100 TB regime). Returns (id, list_id).

    The centroid matrix rides to executors via closure capture (small —
    C × dim floats); rows stream through in Arrow batches, so Python cost
    is one matmul per batch, not per row. Tested equivalent to the
    expression path in tests/test_similarity_ivf.py.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    cmat = np.asarray(centroid_matrix, dtype=np.float64)
    cids = np.asarray(centroid_ids, dtype=np.int64)
    cnorm = np.linalg.norm(cmat, axis=1)

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for batch in batches:
            if not len(batch):
                continue
            vecs = np.asarray(batch[vec_col].tolist(), dtype=np.float64)
            vnorm = np.linalg.norm(vecs, axis=1)
            cos = (vecs @ cmat.T) / np.outer(vnorm, cnorm)
            out = {"id": batch[id_col], "list_id": cids[np.argmax(cos, axis=1)]}
            if include_vec:
                out["vec"] = list(vecs)
                out["norm"] = vnorm
            yield pd.DataFrame(out)

    schema = "id bigint, list_id bigint"
    if include_vec:
        schema += ", vec array<double>, norm double"
    return parallelize_compute(
        corpus.select(id_col, vec_col), min_partitions=min_partitions
    ).mapInPandas(run, schema=schema)


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    centroids: DataFrame | None = None,
    centroid_stride: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expr_centroid_limit: int = 32,
) -> None:
    """Persist the IVF inverted lists **partitioned by list_id** (plus the
    centroid table under ``<path>/_centroids``): the assign-once /
    probe-many layout for a static corpus. Probes against the stored index
    read only the ``n_probe`` probed partitions — a partition-pruned scan
    asserted in tests — instead of the whole corpus.
    """
    if centroids is None:
        centroids = corpus.filter((F.col(id_col) % centroid_stride) == 0)
    cent_rows = _collect_centroids(centroids, id_col, vec_col)
    cmat = [vec for _, vec, _ in cent_rows]
    cids = [cid for cid, _, _ in cent_rows]
    if len(cent_rows) <= expr_centroid_limit:
        scorer = _make_scorer(cent_rows)
        assigned = parallelize_compute(corpus.select(id_col, vec_col)).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
            l2_norm(vec_col).alias("norm"),
        ).withColumn(
            "list_id", -F.array_max(scorer(F.col("vec"), F.col("norm")))["neg_id"]
        )
    else:
        assigned = ivf_assign_arrow(
            corpus, cmat, cids, id_col=id_col, vec_col=vec_col, include_vec=True
        )
    # one file per list instead of tasks x lists (and an explicitly sized
    # shuffle: repartition(col) would fall back to the 32-partition
    # default whose per-task write overhead dominates small corpora —
    # see streaming/vectors.py::index_vector_batch, r12)
    width = max(
        1, min(len(cent_rows), max(16, corpus.rdd.getNumPartitions()))
    )
    assigned.repartition(width, F.col("list_id")).write.partitionBy(
        "list_id"
    ).mode("overwrite").parquet(path)
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(cid, vec) for cid, vec, _ in cent_rows], "centroid_id bigint, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expr_centroid_limit: int = 32,
) -> DataFrame:
    """Query a stored IVF index (:func:`write_ivf_index`): collect the
    (few) probed list ids driver-side, filter the index with an ``isin``
    literal — which prunes to those *partitions* at the scan — and exact
    cosine re-rank inside them. Same output shape as :func:`cosine_topk`.
    """
    cent = spark.read.parquet(f"{index_path}/_centroids")
    cent_rows = _collect_centroids(cent, "centroid_id", "vec")
    cmat = [vec for _, vec, _ in cent_rows]
    cids = [cid for cid, _, _ in cent_rows]
    if len(cent_rows) <= expr_centroid_limit:
        scorer = _make_scorer(cent_rows)
        probes = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            l2_norm(vec_col).alias("__qnorm"),
        ).withColumn(
            "list_id",
            F.explode(
                F.transform(
                    F.slice(
                        F.array_sort(scorer(F.col("__qvec"), F.col("__qnorm"))),
                        -n_probe,
                        n_probe,
                    ),
                    lambda s: -s["neg_id"],
                )
            ),
        )
    else:
        probes = _ivf_probe_arrow(queries, cmat, cids, n_probe, id_col=id_col, vec_col=vec_col)
    probes = probes.localCheckpoint(eager=True)  # reused twice; avoid recompute
    probe_lists = [r["list_id"] for r in probes.select("list_id").distinct().collect()]

    # a segmented index root spans O(#batches × #lists) partition dirs —
    # enough to trip Spark's parallel-listing jobs (3 × 80-path jobs,
    # 1.17 s measured on q210); list driver-side instead (r12, guide §6)
    with driver_listing(spark):
        index = spark.read.parquet(index_path)
    index = index.filter(F.col("list_id").isin(probe_lists))
    scored = (
        index.select(
            F.col("id").alias("neighbor_id"), F.col("vec").alias("__cvec"),
            F.col("norm").alias("__cnorm"), "list_id",
        )
        .join(F.broadcast(probes), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", dot("__qvec", "__cvec") / (F.col("__qnorm") * F.col("__cnorm")))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def kmeans_iterate(
    corpus: DataFrame,
    centroids: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (cosine) Lloyd refinement of a centroid table —
    the quality upgrade for :func:`ivf_topk`'s coarse quantizer. Returns a
    (centroid_id, vec) DataFrame after ``iters`` rounds.

    Per round, fully declarative: (1) map-only assignment against the
    collected centroid literal (no corpus shuffle — same trick as
    ivf_topk); (2) centroid recompute as the per-dimension mean via
    ``posexplode`` + groupBy(list, dim) — the only shuffle, keyed on
    (C × dim) rows regardless of corpus size; (3) re-collect the (tiny)
    new centroids. Iteration count is a constant, not data-driven, so the
    plan depth is bounded.
    """
    cent = centroids.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"), l2_norm(vec_col).alias("cnorm")
    )
    base = parallelize_compute(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        l2_norm(vec_col).alias("vnorm"),
    )
    for _ in range(iters):
        rows = [(r["cid"], list(r["cvec"]), float(r["cnorm"])) for r in cent.collect()]
        cent_arr = _centroid_array_expr(rows)
        assigned = base.withColumn(
            "list_id",
            -F.array_max(
                F.transform(
                    cent_arr,
                    lambda c: F.struct(
                        (dot(F.col("vec"), c["cvec"]) / (F.col("vnorm") * c["cnorm"])).alias(
                            "cos"
                        ),
                        (-c["cid"]).alias("neg_id"),
                    ),
                )
            )["neg_id"],
        )
        cent = (
            assigned.select("list_id", F.posexplode("vec").alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("list_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("cvec")
            )
            .select(
                F.col("list_id").alias("cid"),
                F.col("cvec"),
                F.sqrt(
                    F.aggregate(F.col("cvec"), F.lit(0.0), lambda a, v: a + v * v)
                ).alias("cnorm"),
            )
        )
    return cent.select(F.col("cid").alias("centroid_id"), F.col("cvec").alias("vec"))


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_dims: list[int] | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the query's sign-bit bucket.

    Same output shape as :func:`cosine_topk`. Recall depends on bucket
    granularity; the benchmark compares both.
    """
    dims = lsh_dims or [0, 1, 2, 3]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        l2_norm(vec_col).alias("__qnorm"),
        sign_lsh_bucket(vec_col, dims).alias("__bucket"),
    )
    c = parallelize_compute(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        l2_norm(vec_col).alias("__cnorm"),
        sign_lsh_bucket(vec_col, dims).alias("__bucket"),
    )
    scored = (
        c.join(F.broadcast(q), ["__bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", dot("__qvec", "__cvec") / (F.col("__qnorm") * F.col("__cnorm")))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def retrieval_eval(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Offline retrieval-quality evaluation — the recall@k / MRR@k harness
    every embedding pipeline needs before it trusts an index. For each
    query vector, the corpus is ranked by exact similarity (self excluded,
    ties (score, neighbor_id) — identical to :func:`exact_topk_arrow`),
    relevance = same ``label_col``. Per query, all metrics exact integers:

    * ``n_relevant``     — same-label corpus rows (excluding the query)
    * ``hits_at_k``      — relevant rows inside the exact top-k
    * ``first_rel_rank`` — rank of the first relevant row within the
      top-k (null if none — truncated MRR@k semantics)
    * ``rr_micro``       — floor(1e6 / first_rel_rank), 0 if none
    * ``recall_at_k_micro`` — floor(1e6 · hits / min(k, n_relevant))

    Scale: the ranking is the no-corpus-shuffle Arrow kernel (batch-local
    top-k, global merge over batches×k rows); labels reach the tiny top-k
    table by broadcasting IT against a two-column corpus projection (the
    corpus is never shuffled); ``n_relevant`` folds out of one map-side
    combinable groupBy(label). Total cost ≈ one corpus scan + one
    two-column corpus scan.
    """
    topk = exact_topk_arrow(corpus, queries, k=k, metric=metric,
                            id_col=id_col, vec_col=vec_col)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("neighbor_label")
    )
    labeled = labels.join(F.broadcast(topk), "neighbor_id")

    q_side = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("query_label")
    )
    label_counts = corpus.groupBy(F.col(label_col).alias("query_label")).agg(
        F.count(F.lit(1)).alias("label_n")
    )
    # exclude the query itself from its own relevant set ONLY when the
    # query id actually exists in the corpus — exact_topk_arrow only
    # drops a self-match for in-corpus ids, so an external query (id not
    # in the corpus) competes against the full label_n rows and must not
    # lose the -1. A query whose label is absent keeps a row with
    # n_relevant = 0 (coalesce + greatest clamp).
    # membership probe stays map-only over the corpus: broadcast the tiny
    # query-id set INTO a corpus scan (inner BHJ builds the right side),
    # then the distinct runs on ≤ |queries| rows — never a corpus shuffle
    q_in = (
        corpus.select(F.col(id_col).alias("query_id"))
        .join(F.broadcast(q_side.select("query_id")), "query_id")
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    n_rel = (
        q_side.join(label_counts, "query_label", "left")
        .join(F.broadcast(q_in), "query_id", "left")
        .select(
            "query_id",
            "query_label",
            F.greatest(
                F.coalesce(F.col("label_n"), F.lit(0).cast("long"))
                - F.when(F.coalesce(F.col("in_corpus"), F.lit(False)), F.lit(1))
                .otherwise(F.lit(0))
                .cast("long"),
                F.lit(0).cast("long"),
            ).alias("n_relevant"),
        )
    )

    per_q = (
        labeled.join(F.broadcast(n_rel), "query_id")
        .withColumn("is_rel", F.col("neighbor_label") == F.col("query_label"))
        .groupBy("query_id", "n_relevant")
        .agg(
            F.sum(F.col("is_rel").cast("long")).alias("hits_at_k"),
            F.min(F.when(F.col("is_rel"), F.col("rank"))).alias("first_rel_rank"),
        )
    )
    denom = F.least(F.lit(k).cast("long"), F.col("n_relevant"))
    return per_q.select(
        "query_id",
        "n_relevant",
        "hits_at_k",
        "first_rel_rank",
        F.coalesce(
            F.floor(1000000.0 / F.col("first_rel_rank").cast("double")).cast("long"),
            F.lit(0).cast("long"),
        ).alias("rr_micro"),
        F.when(denom > 0,
               F.floor(F.col("hits_at_k").cast("double") * 1000000.0
                       / denom.cast("double")).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("recall_at_k_micro"),
    ).orderBy("query_id")


def kmeans_parallel_init(
    corpus: DataFrame,
    k: int,
    rounds: int = 3,
    oversample: int | None = None,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-means|| initialization (Bahmani et al., VLDB'12) — the scalable
    k-means++ that fixes ``pq_codebooks_from_seeds``-style first-K seeding:
    instead of k sequential corpus passes (k-means++) it runs ``rounds``
    passes that each sample ~``oversample`` points with probability
    ∝ distance² to the current candidate set, then solves weighted
    k-means++ on the tiny candidate set driver-side.

    Deterministic by construction: every "random" draw is the portable
    md5 hash of (seed, round, point id), so the same inputs give the same
    centers on any cluster layout — reproducible training runs.

    Scale posture: per round ONE map-only corpus pass (candidate literals
    ride in the plan like :func:`kmeans_iterate`'s; min-distance² is an
    array_min over a literal struct array inside codegen) + a scalar agg
    for φ; sampled candidates (≈ oversample ≈ 2k rows) are the only data
    collected. The final weighting pass is one more map-only assignment +
    a C-row groupBy. The corpus is never shuffled.

    Returns (centroid_id 0..k-1, vec, src_vec_id) — centers are actual
    corpus points (k-means++ property), ready for :func:`kmeans_iterate`.
    """
    import hashlib

    from hfsa_spark.functions.hashing import portable_hash64
    from hfsa_spark.plans import parallelize_compute

    if k < 1:
        raise ValueError("k must be >= 1")
    l = oversample if oversample is not None else 2 * k
    base = parallelize_compute(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )

    # deterministic first center: min hash(seed, id)
    first = (
        base.withColumn("h", portable_hash64(F.col("id").cast("string"), seed))
        .orderBy("h", "id")
        .limit(1)
        .collect()[0]
    )
    cands: list[tuple[int, list[float]]] = [(int(first["id"]), [float(x) for x in first["vec"]])]

    def d2_expr() -> Column:
        arr = _centroid_array_expr([(cid, v, 0.0) for cid, v in cands])
        return F.array_min(
            F.transform(
                arr,
                lambda c: F.aggregate(
                    F.zip_with(F.col("vec"), c["cvec"], lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            )
        )

    two60 = float(1 << 60)
    for r in range(rounds):
        # persist the per-round scores: the φ aggregate and the sampling
        # filter both consume d2, and the candidate-array fold is the
        # round's dominant CPU — cached, it is evaluated once per round
        # instead of twice (r12). The φ collect materializes the cache.
        scored = base.withColumn("d2", d2_expr()).persist()
        phi = scored.agg(F.sum("d2")).collect()[0][0]
        if not phi or phi <= 0.0:  # corpus fully covered already
            scored.unpersist()
            break
        u = portable_hash64(
            F.concat(F.lit(f"r{r}:"), F.col("id").cast("string")), seed
        ).cast("double") / F.lit(two60)
        picked = scored.filter(u * F.lit(float(phi)) < F.lit(float(l)) * F.col("d2"))
        have = {cid for cid, _ in cands}
        for row in picked.select("id", "vec").collect():
            if int(row["id"]) not in have:
                cands.append((int(row["id"]), [float(x) for x in row["vec"]]))
                have.add(int(row["id"]))
        scored.unpersist()

    # weight candidates by the size of their nearest-candidate cell
    arr = _centroid_array_expr([(cid, v, 0.0) for cid, v in cands])
    nearest = base.withColumn(
        "cid",
        -F.array_max(
            F.transform(
                arr,
                lambda c: F.struct(
                    (
                        -F.aggregate(
                            F.zip_with(
                                F.col("vec"), c["cvec"], lambda a, b: (a - b) * (a - b)
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        )
                    ).alias("neg_d2"),
                    (-c["cid"]).alias("neg_id"),
                ),
            )
        )["neg_id"],
    )
    weights = {
        int(r["cid"]): int(r["n"])
        for r in nearest.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    # driver-side weighted k-means++ over the tiny candidate set,
    # hash-seeded draws — deterministic
    def unit(tag: str) -> float:
        return int(hashlib.md5(f"{seed}:{tag}".encode()).hexdigest()[:15], 16) / two60

    ids = [cid for cid, _ in cands]
    vecs = {cid: v for cid, v in cands}
    w = {cid: float(weights.get(cid, 0) or 1) for cid in ids}
    chosen = [ids[0]]
    while len(chosen) < min(k, len(ids)):
        d2s = {}
        for cid in ids:
            if cid in chosen:
                continue
            d2s[cid] = min(
                sum((a - b) * (a - b) for a, b in zip(vecs[cid], vecs[c]))
                for c in chosen
            ) * w[cid]
        tot = sum(d2s.values())
        if tot <= 0:
            remaining = [c for c in ids if c not in chosen]
            chosen.extend(remaining[: k - len(chosen)])
            break
        r = unit(f"pick{len(chosen)}") * tot
        acc = 0.0
        pick = None
        for cid in sorted(d2s):
            acc += d2s[cid]
            if acc >= r:
                pick = cid
                break
        chosen.append(pick if pick is not None else sorted(d2s)[-1])

    spark = corpus.sparkSession
    out = [(i, vecs[cid], cid) for i, cid in enumerate(chosen)]
    return spark.createDataFrame(
        out, f"centroid_id bigint, {vec_col} array<double>, src_{id_col} bigint"
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
    centroid_stride: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDedup-style SEMANTIC deduplication (Abbas et al., arXiv
    2303.09540 — public method): cluster the embedding space coarsely,
    then inside each cluster drop every vector that has a LOWER-id
    neighbor with cosine ≥ ``threshold`` — textual near-dup filters miss
    paraphrases; this catches "same meaning, different words".

    Deterministic end-to-end: the default centroids are the stride
    sample (``id % centroid_stride == 0``, same convention as
    :func:`ivf_topk`), assignment tie-breaks to the min centroid id, and
    the keeper is always the cluster-local minimum id of each ≥-threshold
    neighborhood — so the output carries an exact SQL oracle. Pass
    learned centroids (:func:`kmeans_iterate`) in production.

    Returns (id, cluster, keep) — one row per corpus vector.

    Scale: assignment is the map-only literal-expression argmax (no
    corpus shuffle); the pairwise test runs INSIDE clusters only — one
    shuffle on cluster id, candidate pairs bounded by Σ cluster², which
    is the whole point of clustering first (the global pairwise matrix
    never exists). Skewed clusters are AQE skew-join territory; at web
    scale cap cluster size upstream via finer centroids.
    """
    if centroids is None:
        centroids = corpus.filter((F.col(id_col) % centroid_stride) == 0)
    # same kernel switch as ivf_topk: small centroid sets ride as a
    # literal expression (oracle-exact, codegen); large ones (the learned-
    # centroid production regime) use the Arrow/BLAS matmul assignment
    cent_rows = _collect_centroids(centroids, id_col, vec_col)
    if len(cent_rows) <= 32:
        assigned = ivf_assign(
            corpus, centroids, id_col=id_col, vec_col=vec_col
        ).select(F.col("id"), F.col("list_id").alias("cluster"))
    else:
        assigned = ivf_assign_arrow(
            corpus,
            [v for _, v, _ in cent_rows],
            [cid for cid, _, _ in cent_rows],
            id_col=id_col,
            vec_col=vec_col,
        ).select(F.col("id"), F.col("list_id").alias("cluster"))
    vecs = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), l2_norm(vec_col).alias("n")
    )
    # r12: both is consumed three times (the two self-join sides and the
    # final keep projection) — persisted, the assignment argmax and the
    # norm computation run once instead of thrice; released after the
    # verdict table is materialized
    from hfsa_spark.plans import shared

    both = shared(assigned.join(vecs, "id"))
    a = both.select(
        F.col("id").alias("id_a"), F.col("cluster"),
        F.col("v").alias("va"), F.col("n").alias("na"),
    )
    b = both.select(
        F.col("id").alias("id_b"), F.col("cluster"),
        F.col("v").alias("vb"), F.col("n").alias("nb"),
    )
    drops = (
        a.join(b, "cluster")
        .filter(F.col("id_a") > F.col("id_b"))
        .filter(dot("va", "vb") / (F.col("na") * F.col("nb")) >= threshold)
        .select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    out = (
        both.select("id", "cluster")
        .join(drops, "id", "left")
        .select(
            "id",
            "cluster",
            (~F.coalesce(F.col("__drop"), F.lit(False))).alias("keep"),
        )
    )
    out = out.persist()
    out.count()
    both.unpersist()
    return out


def maxsim_topk(
    chunks: DataFrame,
    queries: DataFrame,
    k: int = 5,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval: a "document" is
    a GROUP of chunk vectors (``group_col``); a query scores a document
    by the MAX cosine over its chunks, and the top-k documents win. The
    multi-vector upgrade over single-embedding kNN — long documents stop
    being penalized for having one good passage.

    Scale: chunk scoring reuses the no-corpus-shuffle posture (queries
    broadcast as literals via the JVM expression scorer — here a plain
    per-row cosine against each collected query); per-document max and
    the ranking operate on |groups| × |queries| rows, far smaller than
    the chunk table. Ties (score, group) asc on group id.

    Returns (query_id, group, maxsim, rank).
    """
    q_rows = queries.select(id_col, vec_col).collect()
    base = chunks.select(
        F.col(group_col).alias("grp"),
        F.col(vec_col).alias("vec"),
        l2_norm(vec_col).alias("vnorm"),
    )
    per_q = []
    for r in q_rows:
        qid = int(r[id_col])
        qv = [float(x) for x in r[vec_col]]
        qnorm = sum(x * x for x in qv) ** 0.5
        arr = ",".join(f"{x!r}D" for x in qv)
        qcol = F.expr(f"array({arr})")
        cos = dot(F.col("vec"), qcol) / (F.col("vnorm") * F.lit(qnorm))
        per_q.append(
            base.select(
                F.lit(qid).alias("query_id"),
                "grp",
                cos.alias("cos"),
            )
        )
    scored = per_q[0]
    for p in per_q[1:]:
        scored = scored.unionAll(p)
    agg = scored.groupBy("query_id", "grp").agg(F.max("cos").alias("maxsim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("maxsim"), F.asc("grp"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("grp").alias("group"), "maxsim", "rank")
        .orderBy("query_id", "rank")
    )


# ------------------------------------------------------ rank-biased overlap --


def rbo_weights_micro(k: int = 10, p: float = 0.9) -> list[int]:
    """Truncated-RBO tail weights W(m) = Σ_{d=m..k} (1−p)·p^{d−1}/d in
    micro units (Webber et al. 2010, eq. 4 truncated at depth k): an
    overlapping item first seen at joint depth m contributes W(m). The
    constants are computed ONCE here and inlined as literals on both the
    Spark and oracle sides, so no engine ever evaluates the powers."""
    coefs = [(1.0 - p) * p ** (d - 1) / d for d in range(1, k + 1)]
    return [round(sum(coefs[m - 1 :]) * 1e6) for m in range(1, k + 1)]


def rbo_overlap(
    a_df: DataFrame,
    b_df: DataFrame,
    k: int = 10,
    p: float = 0.9,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Rank-biased overlap between two top-k rankings per query — the
    top-weighted similarity metric that distinguishes "right items,
    right order at the top" from mere set recall: an approximate index
    that finds all 10 true neighbors but inverts ranks 1–3 keeps
    recall@10 = 1 while RBO drops. Each item present in BOTH rankings
    contributes the tail weight W(max(rank_a, rank_b)) — the closed-form
    regrouping of Σ_d (1−p)p^{d−1}·X_d/d, X_d = overlap at depth d.

    Output: (query, n_overlap, rbo_micro); identical rankings score
    Σ W(d) ≈ 1e6·(1 − p^k·(…)) — the truncated-RBO maximum, NOT 1e6.

    Scale: one equi-join of two (query, item) frames already bounded at
    k rows per query, a greatest() and a k-entry literal lookup — the
    metric adds nothing to the cost of producing the rankings.
    """
    wm = rbo_weights_micro(k, p)
    weights = F.array(*[F.lit(x).cast("long") for x in wm])
    a = a_df.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_i"),
        F.col(rank_col).alias("_ra"),
    )
    b = b_df.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_i"),
        F.col(rank_col).alias("_rb"),
    )
    joined = a.join(b, ["_q", "_i"]).select(
        "_q",
        F.element_at(weights, F.greatest("_ra", "_rb").cast("int")).alias("_w"),
    )
    return joined.groupBy(F.col("_q").alias(query_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
        F.sum("_w").cast("long").alias("rbo_micro"),
    )


def matryoshka_overlap(
    corpus: DataFrame,
    queries: DataFrame,
    dims: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-truncation retrieval audit (Kusupati et al. 2022,
    "Matryoshka Representation Learning"): MRL-trained embeddings keep
    most retrieval quality when truncated to a prefix of dimensions,
    which buys a dims-ratio speedup/footprint cut in ANN serving. This
    op measures what truncation actually costs on YOUR vectors: for each
    prefix length d it runs the exact top-k with only components [1, d]
    and reports the per-query overlap with the full-dimension top-k.

    Output (query_id, dim, overlap_at_k) — integer-exact, one row per
    (query, d) including zero-overlap pairs. Scale: each dim is one
    :func:`cosine_topk` pass (corpus never shuffles, queries broadcast),
    plus a join of two ≤k·|queries|-row rank lists — evaluating D
    truncations costs D corpus scans and nothing else.
    """
    # r12: the full-dimension ranking is joined against EVERY truncation
    # — persisted (k·|queries| rows) so its corpus pass runs once, not
    # once per dim; released after the audit table is materialized
    from hfsa_spark.plans import shared

    full = shared(cosine_topk(corpus, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    ))
    qids = queries.select(F.col(id_col).alias("query_id")).distinct()
    per_dim = []
    for d in dims:
        tcorpus = corpus.select(
            id_col, F.slice(vec_col, 1, d).alias(vec_col)
        )
        tqueries = queries.select(
            id_col, F.slice(vec_col, 1, d).alias(vec_col)
        )
        trunc = cosine_topk(tcorpus, tqueries, k, id_col, vec_col).select(
            "query_id", "neighbor_id"
        )
        ov = (
            full.join(trunc, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("overlap_at_k"))
        )
        per_dim.append(
            qids.join(ov, "query_id", "left").select(
                "query_id",
                F.lit(d).alias("dim"),
                F.coalesce("overlap_at_k", F.lit(0)).cast("long").alias(
                    "overlap_at_k"
                ),
            )
        )
    out = per_dim[0]
    for p in per_dim[1:]:
        out = out.unionByName(p)
    out = out.persist()
    out.count()
    full.unpersist()
    return out
