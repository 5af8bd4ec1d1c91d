"""Streaming data-quality drift monitoring: per-micro-batch PSI segments.

The batch operator (:func:`hfsa_spark.operators.features.quality_drift_psi`)
compares two static corpus slices; a crawl-fed pipeline instead needs the
CURRENT batch compared against a FROZEN reference distribution, batch after
batch, so a shifting quality/classifier-score distribution trips an alert
before the shifted data trains a model. Each micro-batch writes one
idempotent ``seg=<batch_id>`` parquet segment of per-bin PSI rows — the
same batch-id-keyed overwrite protocol as
:mod:`hfsa_spark.streaming.index`, so an at-least-once replay rewrites
exactly its own segment and the monitor table is effectively exactly-once.

Reading the monitor is plain batch parquet (partition discovery over
``seg=``): dashboards see a consistent prefix of batches, and the alert
query is one filter (``SUM(psi_contrib) > 2.5e11`` per seg — the 0.25
"shifted" floor in the operator's µ²-nat units).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hfsa_spark.operators.features import quality_drift_psi


def write_drift_segment(
    batch: DataFrame,
    ref: DataFrame,
    out_dir: str,
    batch_id: int,
    score_col: str = "score",
    n_bins: int = 10,
    lo: int = 0,
    hi: int = 1000000,
) -> None:
    """One idempotent PSI segment: the batch's histogram vs the frozen
    reference, written as ``out_dir/seg=<batch_id>`` (full overwrite)."""
    psi = quality_drift_psi(
        ref, batch, score_col=score_col, n_bins=n_bins, lo=lo, hi=hi
    )
    # the seg value comes from the directory name (partition discovery),
    # not a data column — writing it twice would collide on read
    psi.write.mode("overwrite").parquet(f"{out_dir}/seg={int(batch_id)}")


def streaming_drift_monitor(
    stream: DataFrame,
    ref: DataFrame,
    out_dir: str,
    checkpoint_path: str,
    score_col: str = "score",
    n_bins: int = 10,
    lo: int = 0,
    hi: int = 1000000,
):
    """Run segment-per-batch PSI monitoring over a streaming DataFrame
    against a frozen reference. Returns the started StreamingQuery, which
    the caller drains (``run.drain``). ``ref`` must be a static DataFrame; it is
    re-histogrammed per batch (≤ n_bins aggregate rows — cheap), keeping
    the monitor stateless and the state store empty."""

    def step(batch: DataFrame, batch_id: int) -> None:
        write_drift_segment(
            batch, ref, out_dir, batch_id,
            score_col=score_col, n_bins=n_bins, lo=lo, hi=hi,
        )

    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_drift_monitor(spark, out_dir: str) -> DataFrame:
    """Batch view over all written PSI segments (partition discovery)."""
    return spark.read.parquet(out_dir)
