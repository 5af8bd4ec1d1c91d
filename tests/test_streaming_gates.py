"""The streaming gates' lifecycle.

Each of the eight streaming gates must answer like its DuckDB oracle and
leave nothing behind: no scratch directory in the temp dir and no changed
session conf. ``drain`` must make a stuck or failing stream loud and stop
it either way, and ``session_conf`` must unwind nested blocks in order.
"""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

import duckdb
import pytest
from pyspark.errors import StreamingQueryException

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from bench_constants import STREAMING_LIFECYCLE  # noqa: E402
from hfsa_spark.plans import session_conf  # noqa: E402
from hfsa_spark.streaming import run  # noqa: E402
from hfsa_spark.streaming.run import drain  # noqa: E402
from scripts.check_correctness import TABLES, compare  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
PARTS = "spark.sql.shuffle.partitions"


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
@pytest.mark.parametrize("name", sorted(STREAMING_LIFECYCLE))
def test_gate_matches_oracle_and_leaves_nothing(spark, oracle, tmp_path, monkeypatch, name):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    parts = spark.conf.get(PARTS)
    got = entrymod.queries()[name](spark, SF_DIR).toPandas()
    assert compare(got, oracle.sql(entrymod.oracle_sql()[name]).df()) == []
    assert os.listdir(tmp_path) == []
    assert spark.conf.get(PARTS) == parts


def test_drain_timeout_raises_stops_and_cleans_up(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(run, "STREAM_TIMEOUT_S", 1)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    parts = spark.conf.get(PARTS)
    with pytest.raises(TimeoutError):
        with session_conf(spark, {PARTS: "3"}), tempfile.TemporaryDirectory(
            prefix="rate_", ignore_cleanup_errors=True
        ) as tmp:
            # the default trigger never ends on its own
            q = (
                spark.readStream.format("rate").option("rowsPerSecond", 1).load()
                .writeStream.format("noop")
                .option("checkpointLocation", os.path.join(tmp, "ck"))
                .start()
            )
            assert spark.conf.get(PARTS) == "3"
            drain(q)
    assert not q.isActive
    assert spark.conf.get(PARTS) == parts
    assert not os.path.exists(tmp)
    assert os.listdir(tmp_path) == []


def test_drain_propagates_stream_error_and_stops(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)

    def fail(batch, batch_id):
        raise ValueError("planted foreachBatch failure")

    q = (
        spark.readStream.schema("id bigint").parquet(src)
        .writeStream.foreachBatch(fail)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="planted foreachBatch failure"):
        drain(q)
    assert not q.isActive


def test_session_conf_nests_and_unsets_keys_it_added(spark):
    key = "spark.hfsa.test.session_conf"
    parts = spark.conf.get(PARTS)
    assert spark.conf.get(key, None) is None
    with session_conf(spark, {key: "outer", PARTS: "5"}):
        with session_conf(spark, {key: "inner"}):
            assert spark.conf.get(key) == "inner"
        assert spark.conf.get(key) == "outer"
        assert spark.conf.get(PARTS) == "5"
    assert spark.conf.get(key, None) is None
    assert spark.conf.get(PARTS) == parts
