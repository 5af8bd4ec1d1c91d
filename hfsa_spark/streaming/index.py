"""Streaming inverted-index maintenance: each micro-batch becomes one
idempotent index segment.

The batch sink (:mod:`hfsa_spark.sinks.inverted_index`) builds the index in
one pass; a crawl-fed corpus instead GROWS — this module keeps the index
continuously current by writing one Lucene-style segment per micro-batch
through ``foreachBatch``. The segment write is a full overwrite of the
``seg=<batch_id>`` directories (``write_index_segment``), so an
at-least-once replay rewrites exactly its own segment — the same
batch-id-keyed idempotency protocol as :mod:`hfsa_spark.streaming.ingest`,
applied to index state that must outlive the streaming query (it is shared
with batch serving, so it belongs in storage, not the state store).

Serving needs no coordination: :func:`...inverted_index.bm25_topk_indexed`
reads whatever segments exist (partition discovery) and aggregates the
per-segment stats rows, so queries against a live index see a consistent
prefix of batches. Exactness of df/N/avgdl rests on each document arriving
in exactly one batch — compose with ``streaming_ingest_dedup`` upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hfsa_spark.plans import scan_width
from hfsa_spark.sinks.inverted_index import write_index_segment


def streaming_index_maintenance(
    stream: DataFrame,
    index_dir: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 4,
):
    """Run segment-per-batch index maintenance over a streaming DataFrame.
    Returns the started StreamingQuery, which the caller drains
    (``run.drain``)."""

    def step(batch: DataFrame, batch_id: int) -> None:
        # tokenize fan-out sized from the batch's input bytes (r12): a
        # micro-batch file is ~1 MB — the default defaultParallelism
        # fan-out ran 32 near-empty tasks per batch; 8 MB/task reflects
        # tokenize+explode being ~CPU-heavier per byte than columnar work
        write_index_segment(
            batch, index_dir, batch_id, id_col=id_col, text_col=text_col,
            n_shards=n_shards, fanout=scan_width(batch, target_bytes=8 << 20),
        )

    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
