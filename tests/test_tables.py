"""Bucketed-table layout: the write pays the shuffle once, the join plan
is exchange-free (tables.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hfsa_spark.plans import explain_str, num_exchanges, session_conf
from hfsa_spark.tables import read_table, write_bucketed


@pytest.fixture()
def no_broadcast(spark):
    """Force sort-merge planning so the assertion targets bucketing, not
    the broadcast fast path these tiny fixtures would otherwise take."""
    with session_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        yield


@pytest.fixture()
def bucketed_tables(spark):
    """Drop the managed tables the test saves, so none is left behind in
    the warehouse directory."""
    yield
    for name in ("t_docs_b", "t_toks_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_has_no_exchange(spark, no_broadcast, bucketed_tables):
    left = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("lang_id")
    )
    right = spark.range(0, 1000, 2).select(
        F.col("id").alias("doc_id"), (F.col("id") * 3).alias("n_tokens")
    )
    write_bucketed(left, "t_docs_b", ["doc_id"], num_buckets=8)
    write_bucketed(right, "t_toks_b", ["doc_id"], num_buckets=8)

    joined = read_table(spark, "t_docs_b").join(
        read_table(spark, "t_toks_b"), "doc_id"
    )
    assert num_exchanges(joined) == 0, explain_str(joined, "simple")
    assert "SortMergeJoin" in explain_str(joined, "simple")
    # and the result is right: every even id < 1000 matches
    assert joined.count() == 500

    # groupBy on the bucket key also skips its exchange
    agg = read_table(spark, "t_docs_b").groupBy("doc_id").count()
    assert num_exchanges(agg) == 0


def test_unbucketed_join_does_shuffle(spark, no_broadcast, tmp_path):
    """Control: the same join over plain parquet has exchanges — proving
    the bucketed plan above is the layout's doing."""
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(0, 1000).select(F.col("id").alias("doc_id")).write.parquet(p1)
    spark.range(0, 1000).select(F.col("id").alias("doc_id")).write.parquet(p2)
    joined = spark.read.parquet(p1).join(spark.read.parquet(p2), "doc_id")
    assert num_exchanges(joined) >= 2
