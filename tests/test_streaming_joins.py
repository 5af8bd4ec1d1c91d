"""Stream-stream interval join: two file-source streams joined on
(user, time-range) must reproduce the batch inequality join exactly once
both streams are fully processed (closed input ⇒ watermark drops nothing
the batch join would keep)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hfsa_spark.streaming.joins import stream_stream_interval_join
from hfsa_spark.streaming.run import drain


def _write_file(spark, base, idx, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        os.path.join(base, f"stage{idx}")
    )
    src = os.path.join(base, f"stage{idx}")
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            os.rename(os.path.join(src, f), os.path.join(base, f"{idx:02d}.parquet"))


_SCHEMA = "event_id bigint, user_id bigint, ts timestamp"


def _rows(spec):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    return [
        (eid, uid, base + dt.timedelta(seconds=s)) for eid, uid, s in spec
    ]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    clicks_dir = str(tmp_path / "clicks")
    purch_dir = str(tmp_path / "purchases")
    os.makedirs(clicks_dir)
    os.makedirs(purch_dir)

    # clicks across 2 micro-batches; purchases across 2 — matches must span
    # batch boundaries (click in batch 0 ⋈ purchase in batch 1)
    _write_file(spark, clicks_dir, 0, _rows([(1, 7, 0), (2, 7, 100), (3, 8, 50)]), _SCHEMA)
    _write_file(spark, clicks_dir, 1, _rows([(4, 8, 4000), (5, 9, 200)]), _SCHEMA)
    _write_file(spark, purch_dir, 0, _rows([(101, 7, 90)]), _SCHEMA)
    _write_file(spark, purch_dir, 1, _rows([(102, 8, 3700), (103, 7, 3000), (104, 9, 8000)]), _SCHEMA)

    def stream(d):
        return (
            spark.readStream.schema(_SCHEMA).option("maxFilesPerTrigger", 1).parquet(d)
        )

    joined = stream_stream_interval_join(
        stream(clicks_dir), stream(purch_dir),
        ts_col="ts", by_cols=["user_id"], lower_seconds=0, upper_seconds=3600,
    )
    out_dir = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)

    got = sorted(
        (r["event_id"], r["event_id_r"])
        for r in spark.read.parquet(out_dir).collect()
    )

    batch = stream_stream_interval_join(
        spark.read.parquet(clicks_dir), spark.read.parquet(purch_dir),
        ts_col="ts", by_cols=["user_id"], lower_seconds=0, upper_seconds=3600,
    )
    want = sorted((r["event_id"], r["event_id_r"]) for r in batch.collect())

    # expected by hand: u7: click@0 ⋈ p@90, p@3000; click@100 ⋈ p@3000 only
    # (90 < 100). u8: click@50 ⋈ nothing (3700-50 = 3650 > 3600) and
    # click@4000 ⋈ nothing (3700 < 4000). u9: click@200 ⋈ nothing
    # (8000 > 200+3600).
    assert want == [(1, 101), (1, 103), (2, 103)]
    assert got == want
