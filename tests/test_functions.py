"""Unit tests for the expression library — ports of the reference's scalar
utility tests (SURVEY.md §5 layer 1: SizeBucketTest, IECBinaryTest,
FsUtilTest, FormatUtilTest semantics)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hfsa_spark.functions.buckets import size_bucket, bucket_py, bucket_borders, MAX_BUCKETS
from hfsa_spark.functions.iec import format_iec, parse_iec
from hfsa_spark.functions.ages import parse_age_ms
from hfsa_spark.functions.paths import normalize_path, normalize_path_expr, ancestors
from hfsa_spark.functions.perms import mode_octal_py, mode_rwx_py, mode_rwx, mode_octal
from hfsa_spark.functions.sizes import (
    DEFAULT_REPL_FOR_STRIPED_BLOCKS,
    consumed_size,
    effective_replication,
    file_size_from_blocks,
    storage_policy_name,
)


class TestSizeBucket:
    """SizeBucketTest.java:10-83 semantics."""

    def test_bucket_boundaries_py(self):
        mib = 1 << 20
        assert bucket_py(0) == 0
        assert bucket_py(1) == 1
        assert bucket_py(mib - 1) == 1
        assert bucket_py(mib) == 2
        assert bucket_py(2 * mib - 1) == 2
        assert bucket_py(2 * mib) == 3
        assert bucket_py(4 * mib - 1) == 3
        assert bucket_py(4 * mib) == 4
        # 100 GiB → int(log2(100 GiB / 2 MiB)) + 3 = 18 (the reference's
        # initial bucket count, SizeBucket.java:45-90)
        assert bucket_py(100 * (1 << 30)) == 18

    def test_borders(self):
        assert bucket_borders(10) == [
            0, 1 << 20, 2 << 20, 4 << 20, 8 << 20, 16 << 20,
            32 << 20, 64 << 20, 128 << 20, 256 << 20,
        ]

    def test_spark_matches_python_reference(self, spark):
        mib = 1 << 20
        sizes = [0, 1, 512, mib - 1, mib, mib + 1, 2 * mib - 1, 2 * mib]
        # every power-of-two boundary ±1 up to 8 TiB
        for k in range(1, 24):
            b = 2 * mib * (1 << k)
            sizes += [b - 1, b, b + 1]
        df = spark.createDataFrame([(s,) for s in sizes], "file_size long")
        got = {
            r["file_size"]: r["b"]
            for r in df.select("file_size", size_bucket("file_size").alias("b")).collect()
        }
        for s in sizes:
            assert got[s] == bucket_py(s), f"size {s}: spark {got[s]} != py {bucket_py(s)}"

    def test_max_buckets_covers_long_range(self):
        assert bucket_py(2**63 - 1) < MAX_BUCKETS


class TestIEC:
    """IECBinaryTest.java:35-42 semantics incl. the 1535/1536 rounding edge."""

    def test_rounding_edge(self):
        assert format_iec(1535) == "1 KiB"
        assert format_iec(1536) == "2 KiB"

    def test_format_basic(self):
        assert format_iec(0) == "0 B"
        assert format_iec(1023) == "1023 B"
        assert format_iec(1024) == "1 KiB"
        assert format_iec(2 * 1024 * 1024) == "2 MiB"

    def test_parse(self):
        assert parse_iec("123") == 123
        assert parse_iec("2 KiB") == 2048
        assert parse_iec("3MiB") == 3 * 1024 * 1024
        assert parse_iec("3mib") == 3 * 1024 * 1024
        assert parse_iec("1 GiB") == 1 << 30

    def test_roundtrip(self):
        for n in [0, 1, 1024, 2048, 1 << 20, 5 << 20, 1 << 30]:
            assert parse_iec(format_iec(n)) == n


class TestAges:
    """UserUsageReportCommand.AgeConverter semantics (:48-80)."""

    def test_units(self):
        assert parse_age_ms("1h") == 3600_000
        assert parse_age_ms("2d") == 2 * 86400_000
        assert parse_age_ms("1y") == 365 * 86400_000
        assert parse_age_ms("30m") == 30 * 60_000
        assert parse_age_ms("2D") == 2 * 86400_000

    def test_defaults(self):
        assert parse_age_ms(None) == 0
        assert parse_age_ms("") == 0
        assert parse_age_ms("42") == 0  # bare digits → no unit → 0 ms

    def test_invalid(self):
        with pytest.raises(ValueError):
            parse_age_ms("abc")


class TestPaths:
    """FsImageData.normalizePath (:321-336) pinned by
    FsImageLoaderTest.java:418-425."""

    def test_normalize_py(self):
        assert normalize_path("//foo//bar/") == "/foo/bar"
        assert normalize_path("/") == "/"
        assert normalize_path("//") == "/"
        assert normalize_path("/a") == "/a"
        assert normalize_path("/a/") == "/a"

    def test_normalize_expr(self, spark):
        df = spark.createDataFrame(
            [("//foo//bar/",), ("/",), ("//",), ("/a/",)], "p string"
        )
        got = [r["n"] for r in df.select(normalize_path_expr("p").alias("n")).collect()]
        assert got == ["/foo/bar", "/", "/", "/a"]

    def test_ancestors(self, spark):
        df = spark.createDataFrame([("/a/b/c",), ("/",), ("/x",)], "p string")
        got = {r["p"]: r["a"] for r in df.select("p", ancestors("p").alias("a")).collect()}
        assert got["/a/b/c"] == ["/", "/a", "/a/b", "/a/b/c"]
        assert got["/"] == ["/"]
        assert got["/x"] == ["/", "/x"]


class TestPerms:
    """FsUtil permission strings (FsUtil.java:73-86) + csv rwx form."""

    def test_octal(self):
        assert mode_octal_py(0o644) == "0644"
        assert mode_octal_py(0o755) == "0755"
        assert mode_octal_py(0o1777) == "1777"

    def test_rwx_py(self):
        assert mode_rwx_py(0o644) == "rw-r--r--"
        assert mode_rwx_py(0o755) == "rwxr-xr-x"
        assert mode_rwx_py(0o1777) == "rwxrwxrwt"
        assert mode_rwx_py(0o1776) == "rwxrwxrwT"

    def test_rwx_expr_matches_py(self, spark):
        modes = [0o644, 0o755, 0o1777, 0o1776, 0o700, 0o000, 0o521]
        df = spark.createDataFrame([(m,) for m in modes], "mode int")
        got = {
            r["mode"]: (r["rwx"], r["oct"])
            for r in df.select(
                "mode", mode_rwx("mode").alias("rwx"), mode_octal("mode").alias("oct")
            ).collect()
        }
        for m in modes:
            assert got[m] == (mode_rwx_py(m), mode_octal_py(m))


class TestSizes:
    """FsUtil.getFileSize / getConsumedFileSize (FsUtil.java:108-136)."""

    def _df(self, spark, blocks, repl, ec):
        return spark.createDataFrame(
            [(blocks, repl, ec)],
            "blocks array<struct<block_id:bigint,gen_stamp:bigint,num_bytes:bigint>>,"
            "replication int, ec_policy_id int",
        )

    def test_file_size_sum(self, spark):
        df = self._df(spark, [(1, 1001, 134217728), (2, 1001, 33554432)], 1, 0)
        row = df.select(file_size_from_blocks("blocks").alias("s")).head()
        assert row["s"] == 167772160

    def test_consumed_replicated(self, spark):
        df = self._df(spark, [(1, 1001, 1000)], 3, 0)
        row = df.select(
            consumed_size("blocks", "replication", "ec_policy_id").alias("c")
        ).head()
        assert row["c"] == 3000

    def test_consumed_ec_rs63(self, spark):
        # RS-6-3-1024k: one 4 MiB block → cells=4, stripes=ceil(4/6)=1,
        # parity = 1*3*1MiB; consumed = 4MiB + 3MiB
        df = self._df(spark, [(1, 1001, 4 * 1024 * 1024)], 1, 1)
        row = df.select(
            consumed_size("blocks", "replication", "ec_policy_id").alias("c")
        ).head()
        assert row["c"] == 7 * 1024 * 1024

    def test_consumed_empty_blocks(self, spark):
        df = self._df(spark, [], 3, 0)
        row = df.select(
            consumed_size("blocks", "replication", "ec_policy_id").alias("c")
        ).head()
        assert row["c"] == 0

    def test_effective_replication(self, spark):
        """FsUtil.getFileReplication (FsUtil.java:60-65): every EC policy
        reports the striped-block replication, a replicated file its own."""
        rows = [(3, 0), (2, 0)] + [(3, pid) for pid in range(1, 6)]
        df = spark.createDataFrame(rows, "replication int, ec_policy_id int")
        got = df.select(effective_replication("replication", "ec_policy_id").alias("r")).collect()
        assert [r["r"] for r in got] == [3, 2] + [DEFAULT_REPL_FOR_STRIPED_BLOCKS] * 5
        assert DEFAULT_REPL_FOR_STRIPED_BLOCKS == 1

    def test_storage_policy_name(self, spark):
        """FsUtil.getBlockStoragePolicy (FsUtil.java:94-100): unset (0) and
        an unknown id both fall back to HOT."""
        df = spark.createDataFrame([(0,), (2,), (12,), (99,)], "sp int")
        got = df.select(storage_policy_name("sp").alias("n")).collect()
        assert [r["n"] for r in got] == ["HOT", "COLD", "ALL_SSD", "HOT"]
