"""Test-fixture namespaces as ``inodes`` DataFrames.

Mirrors the reference's committed binary fixtures (FIXTURES.md; tree content
from /root/reference lib/.../core/FsImageLoaderTest.java:25-62 and
tool/.../CsvExportTest.java) and its synthetic generator
(fsimage-generator/.../FsImageGenerator.java:36-59) — re-expressed as data,
not as a MiniDFSCluster run.

The small fixtures are built driver-side (≤31 rows); the parametric
``generated_namespace`` builds its file rows *distributed* (dirs × files
cross join) so the same code scales to hundreds of millions of inodes.
"""

from __future__ import annotations

from datetime import datetime, timezone, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hfsa_spark.schema import INODES_SCHEMA, ROOT_INODE_ID, DEFAULT_BLOCK_SIZE

_TZ = timezone(timedelta(hours=2))  # fixture listing times are CEST (+02:00)


def _ms(y, mo, d, h, mi, s) -> int:
    return int(datetime(y, mo, d, h, mi, s, tzinfo=_TZ).timestamp() * 1000)


def _blocks(size: int, block_size: int = DEFAULT_BLOCK_SIZE, first_block_id: int = 1073741825):
    """Synthesize the block list: ceil(size/B) blocks, all B bytes except the
    last remainder (FIXTURES.md §1 block synthesis rule)."""
    if size <= 0:
        return []
    out = []
    remaining = size
    i = 0
    while remaining > 0:
        nb = min(block_size, remaining)
        out.append((first_block_id + i, 1001, nb))
        remaining -= nb
        i += 1
    return out


class _TreeBuilder:
    """Accumulates dir/file rows with paths resolved driver-side."""

    def __init__(self):
        self.rows: list[tuple] = []
        self._next_id = ROOT_INODE_ID

    def _alloc(self, want: int | None) -> int:
        if want is not None:
            self._next_id = max(self._next_id, want + 1)
            return want
        nid = self._next_id
        self._next_id += 1
        return nid

    @staticmethod
    def _split(full_path: str) -> tuple[str, str, int]:
        if full_path == "/":
            return "/", "", 0
        parts = full_path.split("/")
        parent = "/".join(parts[:-1]) or "/"
        return parent, parts[-1], len(parts) - 1

    def dir(self, full_path, user="mm", group="supergroup", mode=0o755, mtime=0, id=None,
            ns_quota=-1, ds_quota=-1):
        parent, name, depth = self._split(full_path)
        nid = self._alloc(id)
        self.rows.append(
            (nid, None, name, "DIRECTORY", parent if full_path != "/" else "/",
             full_path, depth, user, group, mode, mtime, 0, 0, 0, 0, 0,
             ns_quota, ds_quota, None, [], 0, 0, 0)
        )
        return nid

    def file(self, full_path, size, user="mm", group="supergroup", mode=0o644, repl=1,
             mtime=0, atime=0, id=None, ec_policy_id=0, storage_policy_id=0,
             block_size=DEFAULT_BLOCK_SIZE):
        parent, name, depth = self._split(full_path)
        nid = self._alloc(id)
        blocks = _blocks(size, block_size, first_block_id=1073741824 + nid * 16)
        consumed = size * repl if ec_policy_id == 0 else size  # fixtures: no EC
        self.rows.append(
            (nid, None, name, "FILE", parent, full_path, depth, user, group, mode,
             mtime, atime, repl, block_size, storage_policy_id, ec_policy_id,
             -1, -1, None, blocks, size, consumed, len(blocks))
        )
        return nid

    def symlink(self, full_path, target, user="mm", group="supergroup", mode=0o777,
                mtime=0, id=None):
        parent, name, depth = self._split(full_path)
        nid = self._alloc(id)
        self.rows.append(
            (nid, None, name, "SYMLINK", parent, full_path, depth, user, group, mode,
             mtime, 0, 0, 0, 0, 0, -1, -1, target, [], 0, 0, 0)
        )
        return nid

    def build(self, spark: SparkSession) -> DataFrame:
        # resolve parent_id from full_path → id of parent dir
        by_path = {r[5]: r[0] for r in self.rows}
        resolved = []
        for r in self.rows:
            full_path = r[5]
            parent_id = None if full_path == "/" else by_path.get(r[4])
            resolved.append((r[0], parent_id) + r[2:])
        return spark.createDataFrame(resolved, INODES_SCHEMA)


def fsi_small(spark: SparkSession) -> DataFrame:
    """The tool golden-output fixture: 8 dirs (incl. root), 11 files, 3 users,
    3 groups (tool/src/test/resources/fsi_small.img; FIXTURES.md §2).
    Golden aggregates: Σ size 348,019,712 B (displays as 331 MB), 12 blocks,
    histogram [0,2,1,2,1,0,2,1,1,1]."""
    t = _TreeBuilder()
    t.dir("/", mtime=1499493618390, id=ROOT_INODE_ID)
    t.dir("/test1", mtime=_ms(2017, 6, 17, 23, 3, 0))
    t.dir("/test2", mtime=1497733426149, id=16387)
    t.dir("/test3", mtime=1497734744891, id=16388)
    t.dir("/test3/foo", mtime=_ms(2017, 6, 17, 23, 11, 0))
    t.dir("/test3/foo/bar", mtime=_ms(2017, 6, 17, 23, 25, 0))
    t.dir("/user", mtime=_ms(2017, 6, 17, 23, 4, 0))
    t.dir("/user/mm", mtime=_ms(2017, 6, 17, 23, 4, 0))
    t.file("/test_2KiB.img", 2048, mtime=_ms(2017, 7, 8, 8, 0, 0))
    t.file("/test3/test.img", 1048576, mtime=_ms(2017, 6, 17, 23, 7, 0))
    t.file("/test3/test_160MiB.img", 167772160, user="foo", group="nobody",
           mtime=1497734744886, atime=1497734743534, id=16402)
    t.file("/test3/foo/test_1KiB.img", 1024, user="root", group="root",
           mtime=_ms(2017, 6, 17, 23, 9, 0))
    t.file("/test3/foo/test_20MiB.img", 20971520, mtime=_ms(2017, 6, 17, 23, 11, 0))
    t.file("/test3/foo/bar/test_20MiB.img", 20971520, group="nobody",
           mtime=_ms(2017, 6, 17, 23, 13, 0))
    t.file("/test3/foo/bar/test_2MiB.img", 2097152, mtime=_ms(2017, 6, 17, 23, 10, 0))
    t.file("/test3/foo/bar/test_40MiB.img", 41943040, mtime=_ms(2017, 6, 17, 23, 25, 0))
    t.file("/test3/foo/bar/test_4MiB.img", 4145152, mtime=_ms(2017, 6, 17, 23, 10, 0))
    t.file("/test3/foo/bar/test_5MiB.img", 5181440, mtime=_ms(2017, 6, 17, 23, 10, 0))
    t.file("/test3/foo/bar/test_80MiB.img", 83886080, mtime=_ms(2017, 6, 17, 23, 25, 0))
    return t.build(spark)


def fsi_small_h3_2(spark: SparkSession) -> DataFrame:
    """The lib API fixture (lib/src/test/resources/fsi_small_h3_2.img,
    FsImageLoaderTest.java:183-237): fsi_small + /datalake subtree, modified
    replication (40MiB→1, 80MiB→3, 4MiB→5), totals 14 dirs / 16 files /
    Σ 356,417,536 B; subtree /test3 = 3 dirs / 10 files / Σ 348,025,856 B.

    Note: the reference's javadoc listing under-counts /test3 by 8,192 B vs
    its own asserted totals; we absorb the delta in test_4MiB.img so both
    asserted sums hold exactly.
    """
    t = _TreeBuilder()
    t.dir("/", mtime=1499493618390, id=ROOT_INODE_ID)
    t.dir("/test1", mtime=_ms(2017, 6, 17, 23, 3, 0))
    t.dir("/test2", mtime=1497733426149, id=16387)
    t.dir("/test3", mtime=1497734744891, id=16388)
    t.dir("/test3/foo", mtime=_ms(2017, 6, 17, 23, 11, 0))
    t.dir("/test3/foo/bar", mtime=_ms(2017, 6, 17, 23, 25, 0))
    t.dir("/user", mtime=_ms(2017, 6, 17, 23, 4, 0))
    t.dir("/user/mm", mtime=_ms(2017, 6, 17, 23, 4, 0))
    t.dir("/datalake", mtime=_ms(2017, 7, 22, 9, 58, 0))
    t.dir("/datalake/asset1", mtime=_ms(2017, 7, 22, 9, 57, 0))
    t.dir("/datalake/asset2", mtime=_ms(2017, 7, 22, 10, 1, 0))
    t.dir("/datalake/asset3", mtime=_ms(2017, 7, 22, 10, 1, 0))
    t.dir("/datalake/asset3/subasset1", mtime=_ms(2017, 7, 22, 10, 1, 0))
    t.dir("/datalake/asset3/subasset2", mtime=_ms(2017, 7, 22, 10, 1, 0))
    t.file("/test_2KiB.img", 2048, mtime=_ms(2017, 7, 8, 8, 0, 0))
    t.file("/test3/test.img", 1048576, mtime=_ms(2017, 6, 17, 23, 7, 0))
    t.file("/test3/test_160MiB.img", 167772160, user="foo", group="nobody",
           mtime=1497734744886, atime=1497734743534, id=16402)
    t.file("/test3/foo/test_1KiB.img", 1024, user="root", group="root",
           mtime=_ms(2017, 6, 17, 23, 9, 0))
    t.file("/test3/foo/test_20MiB.img", 20971520, mtime=_ms(2017, 6, 17, 23, 11, 0))
    t.file("/test3/foo/bar/test_20MiB.img", 20971520, group="nobody",
           mtime=_ms(2017, 6, 17, 23, 13, 0))
    t.file("/test3/foo/bar/test_2MiB.img", 2097152, mtime=_ms(2017, 6, 17, 23, 10, 0))
    t.file("/test3/foo/bar/test_40MiB.img", 41943040, repl=1,
           mtime=_ms(2017, 6, 17, 23, 25, 0))
    t.file("/test3/foo/bar/test_4MiB.img", 4145152 + 8192, repl=5,
           mtime=_ms(2017, 6, 17, 23, 10, 0))
    t.file("/test3/foo/bar/test_5MiB.img", 5181440, mtime=_ms(2017, 6, 17, 23, 10, 0))
    t.file("/test3/foo/bar/test_80MiB.img", 83886080, repl=3,
           mtime=_ms(2017, 6, 17, 23, 25, 0))
    t.file("/datalake/asset2/test_1KiB.img", 1024, mtime=_ms(2017, 7, 22, 10, 0, 0))
    t.file("/datalake/asset2/test_2MiB.img", 2097152, mtime=_ms(2017, 7, 22, 10, 1, 0))
    t.file("/datalake/asset3/test_2MiB.img", 2097152, mtime=_ms(2017, 7, 22, 10, 1, 0))
    t.file("/datalake/asset3/subasset1/test_2MiB.img", 2097152,
           mtime=_ms(2017, 7, 22, 10, 1, 0))
    t.file("/datalake/asset3/subasset2/test_2MiB.img", 2097152,
           mtime=_ms(2017, 7, 22, 10, 1, 0))
    return t.build(spark)


def empty_image(spark: SparkSession) -> DataFrame:
    """Root-only namespace (lib/src/test/resources/fsimage_0000000000000000000,
    FsImageLoaderTest.java:392-415). Reports must not fail on it."""
    t = _TreeBuilder()
    t.dir("/", mtime=0, id=ROOT_INODE_ID)
    return t.build(spark)


def generated_namespace(
    spark: SparkSession,
    max_depth: int = 5,
    max_width: int = 2,
    files_per_dir_factor: int = 10,
    num_users: int = 1,
    num_groups: int = 1,
    file_size: int = 0,
    mtime: int = 1577836800000,  # 2020-01-01T00:00:00Z
) -> DataFrame:
    """Parametric mirror of the reference generator
    (fsimage-generator/.../FsImageGenerator.java:36-59): 26 top dirs a..z;
    each dir at depth < max_depth has max_width child dirs; every dir holds
    26*files_per_dir_factor files. Defaults ⇒ 806 dirs (807 incl. root),
    209,560 files — the JMH benchmark dataset shape.

    Directory skeleton is built driver-side (dir count is small by
    construction); the 200k+ file rows are generated distributed via a
    cross join against a ``spark.range`` — no driver-side row list, so the
    same code generates 10^8-inode namespaces for scale tests.
    """
    import string

    letters = string.ascii_lowercase

    # -- directory skeleton (driver side, small) --
    dirs: list[tuple[str, int]] = []  # (full_path, depth)

    def expand(path: str, depth: int, letter_idx: int):
        dirs.append((path, depth))
        if depth < max_depth:
            for w in range(1, max_width + 1):
                nxt = (letter_idx + w) % 26
                expand(f"{path}/{letters[nxt]}", depth + 1, nxt)

    for i, letter in enumerate(letters):
        expand(f"/{letter}", 1, i)

    t = _TreeBuilder()
    user = lambda i: f"user{i % num_users}" if num_users > 1 else "hdfs"  # noqa: E731
    group = lambda i: f"group{i % num_groups}" if num_groups > 1 else "hadoop"  # noqa: E731
    t.dir("/", mtime=mtime, id=ROOT_INODE_ID)
    for i, (p, _d) in enumerate(sorted(dirs)):
        t.dir(p, user=user(i), group=group(i), mtime=mtime)
    dirs_df = t.build(spark)

    # -- file rows, distributed --
    n_files_per_dir = 26 * files_per_dir_factor
    # files live only under /a..,/z — the generator puts none in root
    # (806 dirs × 260 files = 209,560; FsImageGenerator.java:36-59)
    dir_rows = dirs_df.filter((F.col("type") == "DIRECTORY") & (F.col("depth") >= 1)).select(
        F.col("id").alias("parent_id"),
        F.col("full_path").alias("path"),
        F.col("depth").alias("parent_depth"),
        F.col("user"),
        F.col("group"),
    )
    files = (
        dir_rows.crossJoin(spark.range(n_files_per_dir).withColumnRenamed("id", "fi"))
        .withColumn("letter", F.substring(F.lit(letters), (F.col("fi") % 26 + 1).cast("int"), 1))
        .withColumn("name", F.concat(F.col("letter"), F.lit("_"), (F.col("fi") / 26).cast("int")))
        .withColumn("full_path",
                    F.when(F.col("path") == "/", F.concat(F.lit("/"), F.col("name")))
                    .otherwise(F.concat(F.col("path"), F.lit("/"), F.col("name"))))
        .withColumn("id", F.lit(10_000_000) + F.monotonically_increasing_id())
        .select(
            "id", "parent_id", "name",
            F.lit("FILE").alias("type"),
            "path", "full_path",
            (F.col("parent_depth") + 1).cast("int").alias("depth"),
            "user", "group",
            F.lit(0o644).alias("mode"),
            F.lit(mtime).alias("mtime"),
            F.lit(mtime).alias("atime"),
            F.lit(1).alias("replication"),
            F.lit(DEFAULT_BLOCK_SIZE).alias("preferred_block_size"),
            F.lit(0).alias("storage_policy_id"),
            F.lit(0).alias("ec_policy_id"),
            F.lit(-1).cast("long").alias("ns_quota"),
            F.lit(-1).cast("long").alias("ds_quota"),
            F.lit(None).cast("string").alias("symlink_target"),
            F.expr(
                f"if({file_size} <= 0, array(),"
                f" array(struct(id as block_id, 1001L as gen_stamp,"
                f" cast({file_size} as long) as num_bytes)))"
            ).cast(INODES_SCHEMA["blocks"].dataType).alias("blocks"),
            F.lit(file_size).cast("long").alias("file_size"),
            F.lit(file_size).cast("long").alias("consumed_size"),
            F.lit(1 if file_size > 0 else 0).alias("num_blocks"),
        )
    )
    return dirs_df.unionByName(files)
