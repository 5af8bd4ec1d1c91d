"""Structured Streaming surface.

The reference is strictly batch over an immutable snapshot (SURVEY.md
§2.10) — streaming here is the beyond-reference growth path: a directory of
successive fsimage extracts (or an events stream) processed incrementally.

Every gate runs a stream through one lifecycle. The query is started with
``trigger(availableNow=True)``, so it ends once it has processed what has
arrived. :func:`~hfsa_spark.streaming.run.drain` waits for that end, raises
on a timeout or a stream error, and always stops the query. A session conf
the stream needs (a state-partition count, say) is held with
:func:`hfsa_spark.plans.session_conf` until the stream has stopped. Scratch
space is a ``tempfile.TemporaryDirectory``, and the result is materialized
(``localCheckpoint``) before that directory goes.
"""

from hfsa_spark.streaming.snapshots import (
    snapshot_growth_report,
    snapshot_delta_report,
    snapshot_inode_diff,
    windowed_event_counts,
    sessionize_events,
)
from hfsa_spark.streaming.stateful import stateful_sessionize
from hfsa_spark.streaming.joins import stream_stream_interval_join
from hfsa_spark.streaming.ingest import ingest_batch, streaming_ingest_dedup
from hfsa_spark.streaming.index import streaming_index_maintenance
from hfsa_spark.streaming.drift import (
    read_drift_monitor,
    streaming_drift_monitor,
    write_drift_segment,
)
from hfsa_spark.streaming.cdc import (
    append_change_segment,
    apply_change_batch,
    apply_change_batch_bucketed,
    compact_segments,
    init_base,
    init_snapshot,
    init_snapshot_bucketed,
    latest_snapshot,
    latest_snapshot_bucketed,
    lookup_bucketed,
    read_merged,
    streaming_append_segments,
    streaming_upsert_snapshots,
    streaming_upsert_snapshots_bucketed,
    vacuum_buckets,
    vacuum_segments,
    vacuum_snapshots,
)
from hfsa_spark.streaming.vectors import (
    compact_ivf_index,
    index_vector_batch,
    init_ivf_index,
    streaming_ivf_index,
)

__all__ = [
    "snapshot_growth_report",
    "snapshot_delta_report",
    "snapshot_inode_diff",
    "windowed_event_counts",
    "sessionize_events",
    "stateful_sessionize",
    "stream_stream_interval_join",
    "ingest_batch",
    "streaming_ingest_dedup",
    "streaming_index_maintenance",
    "read_drift_monitor",
    "streaming_drift_monitor",
    "write_drift_segment",
    "append_change_segment",
    "apply_change_batch",
    "apply_change_batch_bucketed",
    "compact_segments",
    "init_base",
    "init_snapshot",
    "init_snapshot_bucketed",
    "latest_snapshot",
    "latest_snapshot_bucketed",
    "lookup_bucketed",
    "read_merged",
    "streaming_append_segments",
    "streaming_upsert_snapshots",
    "streaming_upsert_snapshots_bucketed",
    "vacuum_buckets",
    "vacuum_segments",
    "vacuum_snapshots",
    "compact_ivf_index",
    "index_vector_batch",
    "init_ivf_index",
    "streaming_ivf_index",
]
