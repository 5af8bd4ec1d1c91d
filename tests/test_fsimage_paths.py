"""Path resolution on images built in the test by ``write_fsimage``.

Three resolvers must agree row for row: the driver route's
``resolve_paths`` (``load_fsimage(distributed=False)``), the distributed
route's executor decode + ``materialize_paths`` level-join, and
``materialize_paths`` over the driver parse. The image carries the shapes
where they could part: files in ``/``, a deep directory chain, an empty
directory, a symlink, and an orphan inode that no INODE_DIR entry lists
(it parses with ``parent_id=None``, so it is a root).

This is a round-trip check of the writer/decoder pair, not the reference
differential (tests/test_fsimage.py, which needs the reference images).
"""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import DataFrame

from hfsa_spark.extract.fsimage import (
    _RAW_DDL,
    _RAW_FIELDS,
    get_acl_entries,
    inode_text_dump,
    load_fsimage,
    parse_fsimage,
)
from hfsa_spark.extract.fsimage_writer import write_fsimage
from hfsa_spark.extract.pathmat import finalize_inodes, materialize_paths, resolve_paths
from hfsa_spark.schema import INODES_SCHEMA

ROOT = 16385
CHAIN = 7  # /c1/c2/.../c7


def _dir(id, parent, name, **kw):
    return {"id": id, "parent_id": parent, "name": name, "type": "DIRECTORY",
            "user": "hdfs", "group": "supergroup", "mode": 0o755, "mtime": 1, **kw}


def _file(id, parent, name, size):
    return {"id": id, "parent_id": parent, "name": name, "type": "FILE",
            "user": "alice", "group": "staff", "mode": 0o644, "mtime": 2,
            "atime": 3, "replication": 2, "preferred_block_size": 1024,
            "blocks": [(1000 + id, 1, size)] if size else []}


def _namespace() -> list[dict]:
    rows = [_dir(ROOT, None, ""), _file(16386, ROOT, "top.txt", 10),
            _file(16387, ROOT, "empty.bin", 0), _dir(16388, ROOT, "emptydir")]
    parent = ROOT
    for depth in range(1, CHAIN + 1):
        rows.append(_dir(16400 + depth, parent, f"c{depth}"))
        parent = 16400 + depth
    rows.append(_file(16420, parent, "deep.dat", 2048))
    rows.append({"id": 16421, "parent_id": 16401, "name": "link", "type": "SYMLINK",
                 "user": "bob", "group": "staff", "mode": 0o777, "mtime": 4,
                 "atime": 5, "symlink_target": "/c1/c2"})
    rows.append(_file(16430, None, "orphan.log", 7))  # listed by no INODE_DIR entry
    return rows


def _equal(a: DataFrame, b: DataFrame) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_driver_distributed_and_levels_agree(spark, tmp_path, monkeypatch):
    img = str(tmp_path / "paths.img")
    write_fsimage(img, _namespace(), codec="gzip")
    cols = [f.name for f in INODES_SCHEMA.fields]

    driver = load_fsimage(spark, img, distributed=False)
    dist = load_fsimage(
        spark, img, distributed=True, target_chunk_bytes=256,
        scratch_dir=str(tmp_path),
    )
    rows = parse_fsimage(img)
    raw = spark.createDataFrame(
        [tuple(r[f] for f in _RAW_FIELDS) for r in rows], schema=_RAW_DDL
    )
    with monkeypatch.context() as m:
        # the level loop ends on its observed row count, not an extra job
        m.setattr(type(raw), "isEmpty", lambda self: pytest.fail("isEmpty job"))
        levels = finalize_inodes(materialize_paths(raw)).select(cols)

    assert driver.count() == len(rows)
    assert _equal(driver, dist)
    assert _equal(driver, levels)

    got = {r.id: (r.path, r.full_path, r.depth)
           for r in driver.select("id", "path", "full_path", "depth").collect()}
    chain = "/" + "/".join(f"c{d}" for d in range(1, CHAIN + 1))
    assert got[16420] == (chain, chain + "/deep.dat", CHAIN + 1)
    assert got[16386] == ("/", "/top.txt", 1)
    assert got[16388] == ("/", "/emptydir", 1)
    assert got[16421] == ("/c1", "/c1/link", 2)
    assert got[16430] == ("/", "/", 0)  # the orphan is a root
    assert got[ROOT] == ("/", "/", 0)


def test_resolver_depth_bound_and_unresolvable_rows_match_level_join(spark):
    rows = _namespace() + [
        _file(16500, 99999, "dangling.txt", 1),  # parent never appears
        _dir(16501, 16502, "cyc_a"), _dir(16502, 16501, "cyc_b"),
    ]
    rows = [{f: r.get(f) for f in _RAW_FIELDS} for r in rows]
    rows[0]["parent_id"] = 16401  # the root inode is a root whatever its parent
    raw = spark.createDataFrame([tuple(r[f] for f in _RAW_FIELDS) for r in rows],
                                schema=_RAW_DDL)
    for max_depth in (3, 512):
        want = {(r.id, r.path, r.full_path, r.depth) for r in
                materialize_paths(raw, max_depth=max_depth).collect()}
        got = {(rows[i]["id"], p, fp, d)
               for i, p, fp, d in resolve_paths(rows, max_depth=max_depth)}
        assert got == want
        assert all(d <= max_depth for _, _, _, d in got)
        assert not {16500, 16501, 16502} & {i for i, *_ in got}


def test_text_dump_and_acl_skip_unresolvable_rows(spark, tmp_path):
    """A dangling parent or a cycle no longer breaks the lookup index:
    such rows are found by id only, as they are absent from the table."""
    rows = _namespace() + [
        _file(16500, 99999, "dangling.txt", 1),
        _dir(16501, 16502, "cyc_a"), _dir(16502, 16501, "cyc_b"),
    ]
    img = str(tmp_path / "dangling.img")
    write_fsimage(img, rows)

    assert inode_text_dump(img, ["16500"]).startswith("type: FILE\nid: 16500\n")
    assert inode_text_dump(img, ["/dangling.txt"]) == "No inode found for /dangling.txt\n"
    assert 'name: "link"' in inode_text_dump(img, ["/c1/link"])
    assert inode_text_dump(img, ["16501"]).startswith("type: DIRECTORY\nid: 16501\n")
    assert get_acl_entries(img, "/top.txt") == []
    with pytest.raises(KeyError):
        get_acl_entries(img, "/cyc_a")

    ids = {r.id for r in load_fsimage(spark, img, distributed=False).select("id").collect()}
    assert ids == {r["id"] for r in _namespace()}


def test_distributed_scratch_leaves_no_file_in_tmpdir(spark, tmp_path):
    """Without ``scratch_dir`` the decompressed sections go to the session's
    SparkFiles root, which Spark removes at stop, not to the temp dir."""
    img = str(tmp_path / "scratch.img")
    write_fsimage(img, _namespace(), codec="gzip")
    pattern = os.path.join(tempfile.gettempdir(), "hfsa_decomp_*")
    before = set(glob.glob(pattern))
    assert load_fsimage(spark, img, distributed=True).count() == len(_namespace())
    assert set(glob.glob(pattern)) <= before
