"""Path materialization — THE enabling extract-time transform (SURVEY.md §4
item 1).

The reference stores no paths: ``/a/b/c`` exists only implicitly through the
parent→children dirMap (/root/reference lib/.../core/FsImageLoader.java:
315-340) and is materialized during every traversal
(FsVisitor.java:140-145). We materialize once, at extract, and afterwards
every "tree traversal" is a columnar scan with a pushed-down prefix
predicate. Two resolvers share one semantics, and the route that loaded the
rows picks between them:

* :func:`resolve_paths` — the driver route (``load_fsimage(distributed=
  False)``), which already holds every parsed row in Python: one BFS over a
  parent → children index, no Spark job. The rows then enter Spark once,
  paths set. ``inode_text_dump`` and ``get_acl_*`` index paths with it too.
* :func:`materialize_paths` — the distributed route (executor decode, every
  image past 64 MiB of INODE section), where no O(#inodes) driver structure
  exists: an iterative level-join over the (id, parent_id, name) edge set.

Semantics (both): the one root is the row whose ``id`` is ``ROOT_INODE_ID``,
and it gets ``("/", "/", 0)``; a child of ``/`` is ``/name``, any other
child ``parent/name``. Like hfsa's visitor, which walks the tree from ``/``
(FsVisitor.java:92-159), a row that is not reached from the root is dropped:
an orphan that no directory lists (``parent_id`` NULL), a dangling parent,
a cycle, or a row deeper than ``MAX_NAMESPACE_DEPTH``.

Scale notes for the level-join (100 TB namespaces, ~10^9 inodes):
* the input is materialized once, so each level re-reads resolved rows, not
  the executor decode and edge join behind them.
* work per level is one equi shuffle join keyed on parent_id; the number of
  iterations is the namespace depth (HDFS caps path depth well under ~1000;
  real trees are < 64 deep) — not data size.
* each resolved level is ``localCheckpoint``-ed to truncate lineage, so the
  plan doesn't grow superlinearly with depth; its row count is observed in
  that same job, so ending the loop costs no extra job.
* AQE handles the shrinking frontier (deep levels are tiny) by coalescing
  post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from hfsa_spark.schema import ROOT_INODE_ID
from hfsa_spark.functions.paths import path_concat, top_dir
from hfsa_spark.functions.sizes import (
    consumed_size,
    file_size_from_blocks,
)

MAX_NAMESPACE_DEPTH = 512


def resolve_paths(
    rows: list[dict], max_depth: int = MAX_NAMESPACE_DEPTH
) -> list[tuple[int, str, str, int]]:
    """Driver-side twin of :func:`materialize_paths` over parsed row dicts
    carrying (id, parent_id, name): a BFS from the root through a
    parent → children index. Returns ``(row index, path, full_path, depth)``
    in BFS order, one entry per row :func:`materialize_paths` would emit
    (unresolvable and too-deep rows have none)."""
    children: dict[int, list[int]] = {}
    frontier = []
    for i, r in enumerate(rows):
        if r["id"] == ROOT_INODE_ID:
            frontier.append((i, "/", "/", 0))
        else:
            children.setdefault(r["parent_id"], []).append(i)
    out = list(frontier)
    for depth in range(1, max_depth + 1):
        if not frontier:
            break
        level = []
        for i, _, parent_path, _ in frontier:
            prefix = "" if parent_path == "/" else parent_path
            for c in children.get(rows[i]["id"], ()):
                level.append((c, parent_path, f"{prefix}/{rows[c]['name']}", depth))
        out.extend(level)
        frontier = level
    return out


def materialize_paths(raw: DataFrame, max_depth: int = MAX_NAMESPACE_DEPTH) -> DataFrame:
    """Add ``path`` (parent-dir absolute path), ``full_path`` and ``depth``
    to a raw inode DataFrame carrying at least (id, parent_id, name).

    Level-synchronous BFS from the root: at step d, rows whose parent was
    resolved at step d-1 get their paths. Returns the input columns +
    the three materialized ones.
    """
    payload_cols = [c for c in raw.columns if c not in ("path", "full_path", "depth")]
    nodes = raw.select(*payload_cols).localCheckpoint(eager=True)

    is_root = F.col("id") == ROOT_INODE_ID
    root = nodes.filter(is_root).select(
        *payload_cols,
        F.lit("/").alias("path"),
        F.lit("/").alias("full_path"),
        F.lit(0).alias("depth"),
    )
    children = nodes.filter(~is_root)

    resolved_levels = [root]
    frontier = root
    for _depth in range(1, max_depth + 1):
        parents = frontier.select(
            F.col("id").alias("__pid"),
            F.col("full_path").alias("__ppath"),
            F.col("depth").alias("__pdepth"),
        )
        size = Observation()
        level = (
            children.join(parents, children["parent_id"] == parents["__pid"], "inner")
            .select(
                *payload_cols,
                F.col("__ppath").alias("path"),
                path_concat(F.col("__ppath"), F.col("name")).alias("full_path"),
                (F.col("__pdepth") + 1).cast("int").alias("depth"),
            )
            .observe(size, F.count(F.lit(1)).alias("rows"))
            .localCheckpoint(eager=True)
        )
        if size.get["rows"] == 0:
            break
        resolved_levels.append(level)
        frontier = level

    out = resolved_levels[0]
    for lvl in resolved_levels[1:]:
        out = out.unionByName(lvl)
    return out


def finalize_inodes(df: DataFrame) -> DataFrame:
    """Derive the precomputed size columns (SURVEY.md §2.9 C1/C2) if absent:
    ``file_size``, ``consumed_size``, ``num_blocks`` — all JVM-side
    higher-order-function folds over the nested ``blocks`` array."""
    out = df
    if "file_size" not in out.columns:
        out = out.withColumn("file_size", file_size_from_blocks("blocks"))
    if "num_blocks" not in out.columns:
        out = out.withColumn("num_blocks", F.coalesce(F.size("blocks"), F.lit(0)))
    if "consumed_size" not in out.columns:
        out = out.withColumn(
            "consumed_size",
            consumed_size("blocks", "replication", "ec_policy_id", "file_size"),
        )
    return out


def write_inodes(df: DataFrame, path: str, partition_by_top_dir: bool = True) -> None:
    """Persist the extracted table. Partitioning by top-level directory makes
    every subtree-scoped report partition-prunable (SURVEY.md §4), which is
    the difference between scanning 100 TB and scanning one tenant's slice.

    Rows are **range-partitioned on (top_dir, full_path)** before the
    write: hash-partitioning on top_dir alone caps writer parallelism at
    the top-dir count (26 here) and a naive write would have every task
    emit a sliver into every partition directory (N × #top_dirs tiny files
    — footer-read latency then dominates every later scan). Range
    partitioning keeps prefix locality (each task covers a contiguous path
    range, so it writes into 1-2 partition dirs), scales writers with the
    cluster instead of the top-dir count, and splits huge top dirs across
    several well-sized files.

    Within each task, rows are sorted by ``full_path``: parquet row-group
    min/max statistics on a sorted string column turn subtree prefix
    predicates (pushed as a StartsWith range) into row-group skips — a
    deep-subtree report then reads only the row groups covering its prefix
    range instead of the whole top_dir partition."""
    with_top = df.withColumn("top_dir", top_dir("full_path"))
    if partition_by_top_dir:
        n_tasks = df.sparkSession.sparkContext.defaultParallelism * 2
        with_top = with_top.repartitionByRange(
            n_tasks, F.col("top_dir"), F.col("full_path")
        ).sortWithinPartitions("top_dir", "full_path")
    writer = with_top.write.mode("overwrite")
    if partition_by_top_dir:
        writer = writer.partitionBy("top_dir")
    writer.parquet(path)
