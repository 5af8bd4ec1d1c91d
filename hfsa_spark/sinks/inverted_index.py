"""Inverted-index sink: build once, serve BM25 queries many times.

The batch :func:`~hfsa_spark.operators.text.bm25_topk` re-derives tf/df/dl
from the corpus on every call — right for ad-hoc use, wrong for a serving
path. This sink materializes the three index relations as parquet:

- ``postings/``  (term, id, tf)  — hash-sharded AND sorted by term, so a
  query's term filter reaches the parquet scan as a pushed ``In`` predicate
  and row groups for other terms are skipped (min/max pruning on the
  sorted term column);
- ``doclen/``    (id, dl)        — per-doc token counts;
- ``stats/``     one row (n_docs, total_tokens) — the exact integers the
  scorer needs for N and avgdl.

:func:`bm25_topk_indexed` then serves queries by scanning ONLY the matching
terms' postings: query cost scales with the hit postings size, not the
corpus. Document frequency is re-counted from the filtered postings (exact:
the filter keeps every posting of a queried term), so no separate df table
is needed and the index stays incrementally rebuildable per shard.

Score parity: identical Lucene-form expression as ``bm25_topk`` (one
rounded micro component per (query, doc, term), integer sums), so the two
paths rank identically and share one oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hfsa_spark.operators.text import tokens


def write_inverted_index(
    df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
) -> None:
    """Materialize the BM25 index relations for ``df`` under ``out_dir``.

    Scale: tf is one map-combinable explode+groupBy (the shuffle carries
    distinct (doc, term) postings, never text); dl and the one-row stats
    fold out of tf without touching the corpus again; postings shard by
    ``hash(term)`` so every shard file is term-sorted and a serving scan
    prunes both files (shard hash) and row groups (sorted min/max).
    """
    _write_index_relations(df, out_dir, "", id_col, text_col, n_shards)


def write_index_segment(
    df: DataFrame,
    index_dir: str,
    segment: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 4,
    fanout: int | None = None,
) -> None:
    """One idempotent index SEGMENT — the Lucene-style incremental form:
    batch ``segment``'s postings/doclen/stats land under ``seg=<segment>``
    directories via a full overwrite of exactly those directories, so an
    at-least-once replay of the batch rewrites the same segment and
    nothing else (the ``ingest_batch`` idempotency pattern applied to
    index maintenance).

    Serving reads the UNION of segments (parquet partition discovery on
    ``seg=``): df / N / avgdl stay exact as long as each document lands in
    exactly one segment — upstream streaming dedup's guarantee.
    """
    _write_index_relations(
        df, index_dir, f"/seg={segment}", id_col, text_col, n_shards,
        fanout=fanout,
    )


def _write_index_relations(
    df: DataFrame,
    index_dir: str,
    suffix: str,
    id_col: str,
    text_col: str,
    n_shards: int,
    fanout: int | None = None,
) -> None:
    """Shared writer for the three index relations (flat index = empty
    ``suffix``; streaming segment = ``/seg=N``) — one body, so layout
    changes cannot diverge between the batch and streaming paths.
    ``fanout`` caps the tokenize fan-out (streaming micro-batches pass a
    byte-derived width; the batch path keeps the full default)."""
    from hfsa_spark.plans import parallelize_compute

    base = parallelize_compute(df.select(id_col, text_col), min_partitions=fanout)
    toks = base.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    (
        tf.repartition(n_shards, "term")
        .sortWithinPartitions("term", "id")
        .write.mode("overwrite")
        .parquet(index_dir + "/postings" + suffix)
    )
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    dl.write.mode("overwrite").parquet(index_dir + "/doclen" + suffix)
    # exact integers for N and avgdl — computed distributed, written as a
    # one-row table (no driver-side value leaves the plan)
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    tt = dl.agg(F.sum("dl").alias("total_tokens"))
    n_docs.crossJoin(tt).write.mode("overwrite").parquet(
        index_dir + "/stats" + suffix
    )
    tf.unpersist()


def bm25_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Serve BM25 top-k from a :func:`write_inverted_index` directory.

    Returns (query_id, rank, doc_id, score_micro) — identical to
    :func:`~hfsa_spark.operators.text.bm25_topk` on the same corpus.

    Scale: the query-term ``isin`` filter pushes into the postings scan
    (pruned shards + row groups), so only hit postings materialize; doc
    lengths fetch via a broadcast semi-style join keyed on the (small)
    hit-doc set side; stats is a broadcast one-row table. Nothing scans
    the corpus text.
    """
    postings = spark.read.parquet(index_dir + "/postings")
    doclen = spark.read.parquet(index_dir + "/doclen")
    # one row per segment (one for a flat batch-built index): corpus-level
    # N and token totals are the exact integer sums over segments
    stats = (
        spark.read.parquet(index_dir + "/stats")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_tokens").alias("total_tokens"),
        )
    )

    terms = sorted({t for _, t in queries})
    # no persist: a serving call must leave no cached blocks behind, and
    # both consumers re-read only the PRUNED postings scan (cheap)
    hit = postings.filter(F.col("term").isin(terms))
    dfreq = hit.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    qdf = spark.createDataFrame(queries, "query_id long, term string")
    joined = (
        F.broadcast(qdf)
        .join(F.broadcast(dfreq), "term")
        .join(hit, "term")
        .join(doclen, "id")
        .crossJoin(F.broadcast(stats))
    )
    nd = F.col("n_docs").cast("double")
    avgdl = F.col("total_tokens").cast("double") / nd
    idf = F.log(
        1.0 + (nd - F.col("df").cast("double") + 0.5) / (F.col("df").cast("double") + 0.5)
    )
    tfd = F.col("tf").cast("double")
    norm = tfd * (k1 + 1.0) / (tfd + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl))
    comp = joined.select(
        "query_id",
        F.col("id").alias("doc_id"),
        F.round(idf * norm * 1e6).cast("long").alias("c_micro"),
    )
    scores = comp.groupBy("query_id", "doc_id").agg(F.sum("c_micro").alias("score_micro"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    out = (
        scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score_micro")
        .orderBy("query_id", "rank")
    )
    return out
