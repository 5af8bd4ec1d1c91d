"""Embedding moments for PCA — the covariance-accumulation pattern: the
N×d corpus is NEVER shuffled or collected; each Arrow batch contributes
a d×d partial Gram matrix + sum vector + count (map-only), and the
driver reduces the tiny per-batch moments. d is model-sized (64–4096),
so the driver-side work is O(d²) regardless of corpus size — the same
"collect the sketch, not the data" contract as the k-means / PQ-codebook
operators in similarity.py.

Two moment paths, equivalence-tested:
* ``embedding_moments`` — pure-expression twin over a dim subset, with
  per-row µ-quantization (floor(x·10⁶+0.5) BEFORE the sum) so the sums
  are integer and associative — bit-identical in any engine or partition
  order, which is what gives q109 an exact DuckDB oracle.
* ``covariance_arrow`` — the float64 path (np X^T X per Arrow batch).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def embedding_moments(
    df: DataFrame, col: str = "embedding", dims: int = 8, quantum: float = 1e6
) -> DataFrame:
    """(i, j, n, sxy_q, sx_q, sy_q) for 0 <= i <= j < dims: integer sums
    of per-row quantized products/values. Quantizing each term BEFORE
    summation makes the aggregation exact integer arithmetic —
    associative, partition-order-independent, and reproducible
    term-for-term in the SQL oracle.

    Shape (r12): one FLAT grouping-free aggregate of dims·(dims+1)/2
    product sums + dims value sums + a count, unpivoted to (i, j) rows
    afterwards. The previous shape exploded dims·(dims+1)/2 structs per
    row through a keyed hash aggregate — 36× the rows and 3 quantized
    terms per struct (sx was re-summed once per j); the flat form
    evaluates each distinct term exactly once per row and needs no
    group-by key at all. Term arithmetic and output rows are unchanged
    (n = corpus row count for every pair in both shapes)."""

    def el(i: int):
        return F.element_at(F.col(col), i + 1).cast("double")

    def q(c):
        return F.floor(c * quantum + F.lit(0.5)).cast("long")

    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(q(el(i))).alias(f"sx_{i}") for i in range(dims)]
    aggs += [
        F.sum(q(el(i) * el(j))).alias(f"sxy_{i}_{j}")
        for i in range(dims)
        for j in range(i, dims)
    ]
    flat = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.lit(j).alias("j"),
                F.col(f"sxy_{i}_{j}").alias("sxy_q"),
                F.col(f"sx_{i}").alias("sx_q"),
                F.col(f"sx_{j}").alias("sy_q"),
            )
            for i in range(dims)
            for j in range(i, dims)
        ]
    )
    return (
        flat.select("n", F.explode(pairs).alias("p"))
        # empty input: the keyed-aggregate shape produced zero rows, the
        # flat aggregate one all-null row — drop it to keep the contract
        .filter(F.col("n") > 0)
        .select("p.i", "p.j", "n", "p.sxy_q", "p.sx_q", "p.sy_q")
    )


def covariance_arrow(df: DataFrame, col: str = "embedding", dim: int = 64):
    """(mean vector, covariance matrix, n) via per-batch Gram partials —
    the float64 production path. Each Arrow batch emits ONE row holding
    its flattened X^T X, sum vector, and count; only batches-many rows
    ever leave the executors."""
    import numpy as np

    schema = "n long, s array<double>, g array<double>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in batch[col]])
            yield pd.DataFrame(
                {
                    "n": [len(x)],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [(x.T @ x).ravel().tolist()],
                }
            )

    parts = df.select(col).mapInPandas(run, schema=schema).collect()
    if not parts:
        raise ValueError("empty input")
    n = sum(p["n"] for p in parts)
    s = np.sum([np.asarray(p["s"]) for p in parts], axis=0)
    g = np.sum([np.asarray(p["g"]).reshape(dim, dim) for p in parts], axis=0)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    return mean, cov, n
