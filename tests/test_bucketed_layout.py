"""Bucketed-table layout (``sinks.layout.write_bucketed``): co-located join
and groupBy plan contract (zero exchanges, zero sorts), its unbucketed
control, and incremental agg-state merge algebra."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from hfsa_spark.plans import explain_str, num_exchanges, session_conf

SF_DIR = "/root/testdata/sf0.001"
# tiny fixtures fit the broadcast threshold, which would hide co-location
NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


def test_bucketed_join_no_exchange_no_sort(spark, tmp_path):
    from hfsa_spark.sinks.layout import drop_bucketed, write_bucketed

    od = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cu = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    try:
        write_bucketed(od, "tb_orders", str(tmp_path / "o"), "o_custkey", 4)
        write_bucketed(cu, "tb_customer", str(tmp_path / "c"), "c_custkey", 4)
        # one file per bucket — the precondition for sortBy metadata use
        files = [f for f in os.listdir(tmp_path / "o") if f.endswith(".parquet")]
        assert len(files) == 4

        o = spark.table("tb_orders")
        c = spark.table("tb_customer")
        joined = o.join(c, o.o_custkey == c.c_custkey).select(
            "o_orderkey", "c_mktsegment"
        )
        # at test SF the dim side fits the broadcast threshold, which
        # would hide the co-location; pin the merge-join contract
        with session_conf(spark, NO_BROADCAST):
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # co-located: paid at write
            assert "SelectedBucketsCount" in plan  # bucketed scans

            # sort elimination additionally needs the one-file-per-bucket
            # scan-ordering conf (off by default since 3.0, SPARK-19256)
            with session_conf(
                spark, {"spark.sql.legacy.bucketedTableScan.outputOrdering": "true"}
            ):
                joined2 = o.join(c, o.o_custkey == c.c_custkey).select(
                    "o_orderkey", "c_mktsegment"
                )
                plan2 = joined2._jdf.queryExecution().executedPlan().toString()
                assert "Exchange" not in plan2
                assert not re.search(r"\bSort\b(?!MergeJoin)", plan2)  # sorted

        # values identical to the unbucketed join
        expect = (
            od.join(cu, od.o_custkey == cu.c_custkey).count()
        )
        assert joined.count() == expect
    finally:
        drop_bucketed(spark, "tb_orders")
        drop_bucketed(spark, "tb_customer")


def test_bucketed_groupby_has_no_exchange(spark, tmp_path):
    """groupBy on the bucket key reads the buckets as its partitioning."""
    from hfsa_spark.sinks.layout import drop_bucketed, write_bucketed

    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("lang_id")
    )
    try:
        write_bucketed(docs, "tb_docs", str(tmp_path / "d"), "doc_id", 8)
        agg = spark.table("tb_docs").groupBy("doc_id").count()
        assert num_exchanges(agg) == 0, explain_str(agg, "simple")
        assert agg.count() == 1000
    finally:
        drop_bucketed(spark, "tb_docs")


def test_unbucketed_join_does_shuffle(spark, tmp_path):
    """Control: the same join over plain parquet has exchanges, so the
    exchange-free bucketed plans above are the layout's doing."""
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(0, 1000).select(F.col("id").alias("doc_id")).write.parquet(p1)
    spark.range(0, 1000).select(F.col("id").alias("doc_id")).write.parquet(p2)
    with session_conf(spark, NO_BROADCAST):
        joined = spark.read.parquet(p1).join(spark.read.parquet(p2), "doc_id")
        assert num_exchanges(joined) >= 2


def test_agg_state_merge_equals_recompute(spark):
    from hfsa_spark.operators.incremental import (
        build_agg_state,
        finalize_agg_state,
        merge_agg_states,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    one_shot = finalize_agg_state(
        build_agg_state(ev, ["event_type"])
    ).collect()
    expect = {r["event_type"]: r.asDict() for r in one_shot}

    # split 3 ways, merge pairwise then fold the third — any tree shape
    parts = [ev.filter(F.col("event_id") % 3 == k) for k in range(3)]
    states = [build_agg_state(p, ["event_type"]) for p in parts]
    merged = merge_agg_states(merge_agg_states(states[0], states[1]), states[2])
    got = {r["event_type"]: r.asDict() for r in finalize_agg_state(merged).collect()}
    assert got == expect

    # merge of a single state is identity
    solo = {
        r["event_type"]: r.asDict()
        for r in finalize_agg_state(
            merge_agg_states(build_agg_state(ev, ["event_type"]))
        ).collect()
    }
    assert solo == expect


def test_merge_agg_states_explicit_keys(spark):
    from hfsa_spark.operators.incremental import (
        build_agg_state,
        merge_agg_states,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "key string, value double"
    )
    s = build_agg_state(df, ["key"])
    merged = merge_agg_states(s, s, key_cols=["key"])
    got = {r["key"]: r["n_rows"] for r in merged.collect()}
    assert got == {"a": 4, "b": 2}


def test_pit_join_reuses_bucketed_interval_layout(spark, tmp_path):
    """The feature-store shape at 100 TB: an SCD2 interval table stored
    bucketed by its key enters point_in_time_join WITHOUT re-shuffling —
    the bucketed plan must carry exactly one fewer Exchange than the
    same join over plain parquet (needs the null_safe_keys=False
    non-null-key contract; eqNullSafe keys plan on (coalesce, isnull)
    and can never reuse a hash layout)."""
    import re

    from hfsa_spark.operators.cdc import point_in_time_join, scd2_intervals
    from hfsa_spark.sinks.layout import drop_bucketed, write_bucketed

    od = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    log = od.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit("I").alias("op"),
        (F.col("o_orderkey") % 3 * 10).alias("ts"),
    )
    intervals = scd2_intervals(log, ["o_orderkey"], ts_col="ts", op_col="op")
    facts = od.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", (F.col("o_orderkey") % 40).alias("ts")
    )

    def n_exchanges(iv):
        j = point_in_time_join(facts, iv, ["o_orderkey"],
                               null_safe_keys=False)
        plan = j._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"\bExchange\b", plan))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plain = n_exchanges(intervals)
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        write_bucketed(intervals, "tb_pit_iv", str(tmp_path / "iv"),
                       "o_orderkey", n_shuffle)
        bucketed = n_exchanges(spark.table("tb_pit_iv"))
        assert bucketed == plain - 1  # interval-side exchange eliminated

        # values identical both ways (the layout never changes the answer)
        a = point_in_time_join(facts, intervals, ["o_orderkey"],
                               null_safe_keys=False)
        b = point_in_time_join(facts, spark.table("tb_pit_iv"),
                               ["o_orderkey"], null_safe_keys=False)
        assert sorted(map(tuple, a.collect()), key=lambda t: t[:2]) == sorted(
            map(tuple, b.collect()), key=lambda t: t[:2]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        drop_bucketed(spark, "tb_pit_iv")


def test_pit_join_rejects_state_column_collisions(spark):
    """A fact column sharing a name with an interval state column would
    emit ambiguous duplicate output columns — must raise, not emit."""
    import pytest

    from hfsa_spark.operators.cdc import point_in_time_join

    facts = spark.createDataFrame(
        [(1, 5, 9.0)], "k bigint, ts int, price double"
    )
    iv = spark.createDataFrame(
        [(1, 1.0, 0, None, True)],
        "k bigint, price double, valid_from int, valid_to int,"
        " is_current boolean",
    )
    with pytest.raises(ValueError, match="price"):
        point_in_time_join(facts, iv, ["k"])


def test_upsert_merge_reuses_bucketed_base_layout(spark, tmp_path):
    """The nightly-merge shape at 100 TB: a snapshot stored bucketed by
    its pk enters upsert_merge's full-outer join WITHOUT re-shuffling —
    the bucketed plan must carry exactly one fewer Exchange than the
    same merge over plain parquet."""
    import re

    from hfsa_spark.operators.cdc import upsert_merge
    from hfsa_spark.sinks.layout import drop_bucketed, write_bucketed

    od = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ch = (
        od.limit(40)
        .withColumn("op", F.lit("U"))
        .withColumn("ts", F.lit(1))
    )

    def n_exchanges(base):
        # non-null pk contract -> plain == keys, the layout-reusable form
        merged = upsert_merge(base, ch, ["o_orderkey"], ts_col="ts",
                              null_safe_keys=False)
        plan = merged._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"\bExchange\b", plan))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plain = n_exchanges(od)
        # one-sided layout reuse needs numBuckets == shuffle partitions
        # (the other side is shuffled INTO the bucket partitioning)
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        write_bucketed(od, "tb_cdc_base", str(tmp_path / "b"),
                       "o_orderkey", n_shuffle)
        bucketed = n_exchanges(spark.table("tb_cdc_base"))
        assert bucketed == plain - 1  # base side exchange eliminated
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        drop_bucketed(spark, "tb_cdc_base")
