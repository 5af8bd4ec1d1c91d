"""Focused tests for the r12 streaming-gate fixed-cost optimizations.

Three internals changed and each gets a contract pin here:

* one-job arrival staging (``_stage_arrival_split`` / ``_stage_arrival_files``
  in ``__spark_entry__``) must reproduce the per-batch writer's exact file
  layout: zero-padded names, mtimes increasing with seq, per-file row SETS
  identical to the old filter-per-batch loop (including the empty-batch and
  the dropped-NULL-seq cases);
* ``plans.scan_width`` must derive fan-out from input bytes for file-backed
  frames and fall back to the plan's partition count where the file list is
  invisible (the ``foreachBatch`` regression: ``inputFiles()`` is empty
  there, and the first draft silently disabled the fix);
* ``plans.driver_listing`` must restore the session conf on exit and not
  change what a partitioned read returns.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from hfsa_spark.plans import driver_listing, scan_width


def _read_files_sorted(spark, d):
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def test_stage_arrival_split_layout_and_content(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("v")
    )
    dst = str(tmp_path / "arrivals")
    entrymod._stage_arrival_split(df, F.col("doc_id") % 3, 3, dst)

    files = _read_files_sorted(spark, dst)
    assert files == ["00.parquet", "01.parquet", "02.parquet"]
    mtimes = [os.path.getmtime(os.path.join(dst, f)) for f in files]
    assert mtimes == sorted(mtimes) and mtimes[0] < mtimes[1] < mtimes[2]
    for k, f in enumerate(files):
        got = sorted(
            (r["doc_id"], r["v"])
            for r in spark.read.parquet(os.path.join(dst, f)).collect()
        )
        want = sorted(
            (r["doc_id"], r["v"])
            for r in df.filter(F.col("doc_id") % 3 == k).collect()
        )
        assert got == want, f"file {f} rows diverge from the old per-batch filter"


def test_stage_arrival_split_empty_batch_still_writes_a_file(spark, tmp_path):
    # seq expression never produces 2 -> the fallback must still write an
    # empty 02.parquet so the arrival sequence (batch ids) is unchanged
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    dst = str(tmp_path / "arrivals")
    entrymod._stage_arrival_split(df, F.col("doc_id") % 2, 3, dst)
    files = _read_files_sorted(spark, dst)
    assert files == ["00.parquet", "01.parquet", "02.parquet"]
    assert spark.read.parquet(os.path.join(dst, "02.parquet")).count() == 0


def test_stage_arrival_split_null_seq_rows_are_dropped(spark, tmp_path):
    # q94 semantics: a NULL seq (neither when-branch) must NOT appear in
    # any arrival file — the old two-filter loop dropped those rows
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 8, F.col("id")).alias("maybe"),
    )
    dst = str(tmp_path / "arrivals")
    entrymod._stage_arrival_split(
        df, F.when(F.col("maybe") < 4, 0).when(F.col("maybe") >= 4, 1), 2, dst
    )
    total = spark.read.parquet(dst).count()
    assert total == 8  # the two NULL-maybe rows vanished


def test_stage_arrival_files_union_variant(spark, tmp_path):
    a = spark.range(5).select(F.col("id").alias("k"), F.lit("a").alias("tag"))
    b = spark.range(3).select(F.col("id").alias("k"), F.lit("b").alias("tag"))
    dst = str(tmp_path / "changes")
    entrymod._stage_arrival_files([a, b], dst)
    files = _read_files_sorted(spark, dst)
    assert files == ["00.parquet", "01.parquet"]
    f0 = spark.read.parquet(os.path.join(dst, "00.parquet"))
    f1 = spark.read.parquet(os.path.join(dst, "01.parquet"))
    assert sorted(r["tag"] for r in f0.collect()) == ["a"] * 5
    assert sorted(r["tag"] for r in f1.collect()) == ["b"] * 3
    # schema must not leak the __seq tag into the staged files
    assert "__seq" not in f0.columns


def test_scan_width_file_backed_and_fallback(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(1000).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    w = scan_width(df)
    assert w == 1  # tiny file -> one task
    assert scan_width(df, target_bytes=1) == min(
        spark.sparkContext.defaultParallelism, 10**9
    )  # 1 B/task saturates at the core cap
    # non-file-backed plan: falls back to the plan's own partition count
    rdd_df = spark.range(100, numPartitions=4)
    assert scan_width(rdd_df.groupBy("id").count()) >= 1


def test_driver_listing_restores_conf_and_preserves_results(spark, tmp_path):
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)
    p = str(tmp_path / "seg")
    df = spark.range(200).select(
        F.col("id").alias("v"), (F.col("id") % 7).alias("part")
    )
    df.write.partitionBy("part").parquet(p)
    with driver_listing(spark):
        assert spark.conf.get(key) == "16384"
        got = sorted(r["v"] for r in spark.read.parquet(p).collect())
    assert spark.conf.get(key) == before
    assert got == list(range(200))
    # nested: the inner block must not end the outer one's scope
    with driver_listing(spark):
        with driver_listing(spark):
            assert spark.conf.get(key) == "16384"
        assert spark.conf.get(key) == "16384"
    assert spark.conf.get(key) == before
