"""Structured Streaming tests (SURVEY.md §2.10 — beyond-reference additive
operators; the reference itself is batch-only over immutable snapshots).

Key property: the streaming plans reuse the exact batch expressions, so
batch-verified semantics carry to streams. The end-to-end test runs a real
StreamingQuery (file source → watermark → tumbling agg → parquet sink,
availableNow trigger) and compares against the batch twin on the same data.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hfsa_spark.streaming.run import drain
from hfsa_spark.streaming.snapshots import (
    sessionize_events,
    snapshot_growth_report,
    streaming_windowed_counts_query,
    windowed_event_counts,
)

_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


def _make_events(spark, n=1000):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 97).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.concat(F.lit("type_"), (F.col("id") % 3)).alias("event_type"),
        (F.col("id") * 0.5).alias("value"),
    )


def test_streaming_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    events = _make_events(spark)
    events.coalesce(2).write.parquet(src)

    q = streaming_windowed_counts_query(
        spark, src, _SCHEMA, ckpt, sink, window_duration="1 hour"
    )
    drain(q)

    streamed = spark.read.parquet(sink)
    batch = windowed_event_counts(events, "1 hour", watermark=None)

    # append mode only emits windows finalized past the 2h watermark: the
    # stream's tail windows are (correctly) retained as open state, so the
    # comparable set is windows with end <= max_event_time - watermark
    max_ts = events.agg(F.max(F.col("ts").cast("long"))).collect()[0][0]
    cutoff = max_ts - 2 * 3600
    finalized = batch.filter(F.col("window_start") + 3600 <= cutoff)

    a = sorted(map(tuple, streamed.select("window_start", "event_type", "n_events").collect()))
    b = sorted(map(tuple, finalized.select("window_start", "event_type", "n_events").collect()))
    assert a == b and len(a) > 0


def test_sessionize_gap_semantics(spark):
    # one user, events at t=0,10m,50m,60m with 30m gap => sessions {0,10} {50,60}
    rows = [(i, t) for i, t in enumerate([0, 600, 3000, 3600])]
    ev = spark.createDataFrame(rows, "event_id bigint, off bigint").select(
        "event_id",
        F.timestamp_seconds(F.lit(1700000000) + F.col("off")).alias("ts"),
        F.lit(1).alias("user_id"),
        F.lit("t").alias("event_type"),
        F.lit(1.0).alias("value"),
    )
    sessions = sessionize_events(ev, gap_minutes=30).orderBy("session_id").collect()
    assert len(sessions) == 2
    assert sessions[0]["n_events"] == 2 and sessions[1]["n_events"] == 2
    assert sessions[0]["session_end"] - sessions[0]["session_start"] == 600


def test_snapshot_delta_report(spark):
    from hfsa_spark.streaming.snapshots import snapshot_delta_report

    snaps = spark.createDataFrame(
        [(1, "FILE", "alice", 100), (2, "FILE", "alice", 150), (2, "FILE", "alice", 50),
         (3, "FILE", "alice", 180)],
        "snapshot_ts int, type string, user string, file_size bigint",
    )
    rows = {r["snapshot_ts"]: r for r in snapshot_delta_report(snaps).collect()}
    assert rows[1]["d_size"] == 100          # first snapshot: full size
    assert rows[2]["d_size"] == 100          # 200 - 100
    assert rows[2]["d_files"] == 1           # 2 - 1
    assert rows[3]["d_size"] == -20          # 180 - 200 (shrink)


def test_snapshot_growth_batch_form(spark):
    snaps = spark.createDataFrame(
        [(1, "FILE", "alice", 100), (1, "FILE", "bob", 10), (2, "FILE", "alice", 150),
         (2, "DIRECTORY", "alice", 0)],
        "snapshot_ts int, type string, user string, file_size bigint",
    )
    rep = {(r["snapshot_ts"], r["user"]): (r["n_files"], r["sum_size"])
           for r in snapshot_growth_report(snaps).collect()}
    assert rep[(1, "alice")] == (1, 100)
    assert rep[(2, "alice")] == (1, 150)  # directory row excluded
