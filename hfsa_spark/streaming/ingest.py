"""Continuous corpus ingestion: stream → dedup-vs-index → append.

The batch building block is operators/dedup.py::incremental_dedup (clean a
new batch against the persisted digest index). This module runs it
*continuously* via ``foreachBatch``: each micro-batch is deduped against
everything accepted so far (all prior batches included), survivors are
appended to the corpus, and their digests are appended to the index —
the loop a crawl-fed 100 TB training corpus runs forever.

Why ``foreachBatch`` and not a stateful operator: the digest index must
outlive the streaming query (it IS the corpus's dedup state, shared with
batch jobs and other queries), so it belongs in storage, not in the state
store.

Exactly-once protocol: ``foreachBatch`` itself is only at-least-once — a
crash between the two appends would otherwise leave the corpus and the
index divergent, and a replay would then re-append (or wrongly drop) the
batch. Both writes are therefore made IDEMPOTENT on the micro-batch id:

* every accepted row carries an ``ingest_batch_id`` provenance column and
  both datasets are partitioned by it;
* writes use dynamic-partition OVERWRITE, so a replay of batch N rewrites
  exactly the ``ingest_batch_id=N`` partitions and nothing else;
* the dedup computation excludes ``ingest_batch_id = N`` rows from the
  index read, so a replay that finds a half-committed attempt (index
  written, corpus not — or vice versa) recomputes the SAME survivor set
  the first attempt did, then overwrites both partitions consistently.

Replay of a fully-committed batch is thus a no-op rewrite of identical
partitions; replay of a partially-committed batch completes it. Either
way corpus and index converge to the same state — effective exactly-once
on top of an at-least-once trigger.

Scale notes:
* the index read inside each micro-batch is a single-column parquet scan;
  the anti join keys on the digest (co-partitioned shuffle, AQE sizes it);
* appends are partitioned-parquet friendly — pass ``partition_by`` to
  keep corpus files prunable (user partitions nest under the batch-id
  partition);
* the index grows one small file per micro-batch — compact it
  periodically with sinks/layout.py::compact_to_target_size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hfsa_spark import fs as _fs
from hfsa_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_groups,
    incremental_dedup,
)

BATCH_ID_COL = "ingest_batch_id"


def ingest_batch(
    batch: DataFrame,
    index_path: str,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_by: list[str] | None = None,
    batch_id: int = 0,
) -> int:
    """One idempotent ingestion step: dedupe ``batch`` against the digest
    index at ``index_path`` (excluding any partial remains of THIS
    ``batch_id``), then dynamic-partition-overwrite the survivors into
    ``corpus_path`` and their digests into the index, both under the
    ``ingest_batch_id=batch_id`` partition. Re-running with the same
    ``batch_id`` converges to the same state (see module docstring).
    Returns the number of accepted rows. Callable directly for batch
    backfills (pick a fresh ``batch_id`` per backfill chunk)."""
    spark = batch.sparkSession
    if _fs.exists(index_path):
        index = spark.read.parquet(index_path).filter(
            F.col(BATCH_ID_COL) != batch_id
        )
        kept = incremental_dedup(batch, index, id_col, text_col)
    else:
        kept = exact_dedup(batch, id_col, text_col)
    # one deterministic pass: materialize survivors before the two writes
    # so both see the identical survivor set
    kept = kept.localCheckpoint(eager=True)
    n = kept.count()
    if n == 0:
        return 0
    tagged = kept.withColumn(BATCH_ID_COL, F.lit(batch_id))
    parts = [BATCH_ID_COL] + list(partition_by or [])
    (
        tagged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
        .parquet(corpus_path)
    )
    (
        exact_dedup_groups(kept, id_col, text_col)
        .select("digest")
        .withColumn(BATCH_ID_COL, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_ID_COL)
        .parquet(index_path)
    )
    return n


def streaming_ingest_dedup(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_by: list[str] | None = None,
):
    """Run the ingestion loop over a streaming DataFrame. Returns the
    started StreamingQuery, which the caller drains (``run.drain``)."""

    def step(batch: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch, index_path, corpus_path,
            id_col=id_col, text_col=text_col, partition_by=partition_by,
            batch_id=batch_id,
        )

    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
