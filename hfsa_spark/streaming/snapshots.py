"""Streaming operators.

1. **Snapshot series**: successive fsimage extracts land as parquet under
   ``<root>/snapshot_ts=.../`` — a partitioned table batch-side, a file
   stream streaming-side. Tumbling-window growth reports aggregate per
   snapshot; watermarking bounds state for late-arriving extract jobs.
2. **Event streams**: windowed counts and gap-based sessionization for the
   ``events`` table shape (ts, user_id, event_type, value). Both have exact
   batch twins (used by the correctness oracle) — the streaming plans reuse
   the same expressions, so batch-verified semantics carry over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def snapshot_growth_report(snapshots: DataFrame) -> DataFrame:
    """Per (snapshot_ts, user): file count + bytes — the incremental twin of
    the summary report. Works identically on a batch DataFrame (partitioned
    table) and a streaming one (complete-mode aggregation)."""
    return (
        snapshots.filter(F.col("type") == "FILE")
        .groupBy("snapshot_ts", "user")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("file_size").alias("sum_size"),
        )
    )


def snapshot_delta_report(snapshots: DataFrame) -> DataFrame:
    """Growth between CONSECUTIVE snapshots per user: (snapshot_ts, user,
    n_files, sum_size, d_files, d_size) where d_* is the change from the
    user's previous snapshot (first snapshot ⇒ full size as delta).

    One aggregation + one lag window partitioned by user — the window input
    is already reduced to (snapshot, user) rows, so the sort is tiny no
    matter how many inodes each snapshot holds."""
    per_snap = snapshot_growth_report(snapshots)
    w = Window.partitionBy("user").orderBy("snapshot_ts")
    return per_snap.select(
        "snapshot_ts",
        "user",
        "n_files",
        "sum_size",
        (F.col("n_files") - F.coalesce(F.lag("n_files").over(w), F.lit(0))).alias("d_files"),
        (F.col("sum_size") - F.coalesce(F.lag("sum_size").over(w), F.lit(0))).alias("d_size"),
    )


def snapshot_inode_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "full_path",
    size_col: str = "file_size",
) -> DataFrame:
    """Inode-level diff between two namespace snapshots — the
    what-changed complement of :func:`snapshot_delta_report`'s how-much
    rollup (reference story: successive fsimages,
    ``FSImageLoader``-style namespaces): every path is classified
    ``added`` / ``deleted`` / ``modified`` (size changed) /
    ``unchanged``. Returns (status, path, old_size, new_size).

    Scale: both sides are projected to (key, size) BEFORE the full outer
    join — the join shuffles two narrow columns keyed on the path, never
    the full inode rows; at 100 TB namespaces this is the same
    digest-projected-FOJ shape as operators/dedup.py::corpus_diff.
    """
    a = old.select(
        F.col(key_col).alias("path"), F.col(size_col).alias("old_size")
    )
    b = new.select(
        F.col(key_col).alias("path"), F.col(size_col).alias("new_size")
    )
    joined = a.join(b, "path", "full")
    status = (
        F.when(F.col("old_size").isNull(), F.lit("added"))
        .when(F.col("new_size").isNull(), F.lit("deleted"))
        .when(F.col("old_size") != F.col("new_size"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(status.alias("status"), "path", "old_size", "new_size")


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type. On a streaming input the
    watermark bounds state; on batch input the same plan just aggregates.
    Window start is exposed as epoch seconds (oracle-friendly)."""
    src = events
    if watermark and events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window_duration).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize_events(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization (batch form): a new session starts when the
    gap to the user's previous event exceeds ``gap_minutes``. Classic
    lag + cumulative-sum window — one shuffle on user_id.

    Returns one row per session: (user_id, session_id, session_start,
    session_end, n_events, sum_value).

    The streaming twin is ``groupBy(session_window(ts, gap))`` /
    ``applyInPandasWithState``; this batch form is the oracle-checkable
    definition of the semantics.
    """
    gap_s = gap_minutes * 60
    w_user = Window.partitionBy("user_id").orderBy("ts")
    with_gap = events.withColumn(
        "__new_session",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w_user)
            > gap_s,
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "session_id",
        F.sum("__new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return with_gap.groupBy("user_id", "session_id").agg(
        F.min(F.col("ts").cast("long")).alias("session_start"),
        F.max(F.col("ts").cast("long")).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


def streaming_windowed_counts_query(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    checkpoint_dir: str,
    output_dir: str,
    window_duration: str = "1 hour",
):
    """End-to-end streaming pipeline: file source → watermarked tumbling
    aggregation → parquet sink. Returns the StreamingQuery handle."""
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 4).parquet(source_dir)
    )
    agg = windowed_event_counts(stream, window_duration)
    return (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start(output_dir)
    )
