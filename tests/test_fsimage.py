"""Binary fsimage loader tests against the reference's committed image
fixtures (read as INPUT DATA), mirroring FsImageLoaderTest.java:

* fsi_small_h3_2.img — 14 dirs / 16 files / 3 users / 3 groups /
  Σ 356,417,536 B (:183-237)
* fsi_small_h2x.img  — Hadoop 2.x compatibility (:77-81)
* fsimage_0000000000000000000 — empty image, root only (:392-415)
* fsimage_d800_f210k_compressed.img — codec path, 807 dirs / 209,560
  files (:160-171)

plus the end-to-end golden: binary fsi_small.img → engine → the exact
summary txt from SummaryReportCommandTest.java:29-52.
"""

from __future__ import annotations

import os

import pytest

from hfsa_spark.extract.fsimage import load_fsimage, parse_fsimage

LIB_RES = "/root/reference/lib/src/test/resources"
TOOL_RES = "/root/reference/tool/src/test/resources"


def needs(img: str):
    """Skip when the reference image is absent (it is read as input data
    from a reference checkout that is not always present)."""
    return pytest.mark.skipif(not os.path.exists(img), reason=f"reference image {img} is absent")


H3_2 = f"{LIB_RES}/fsi_small_h3_2.img"
H2X = f"{LIB_RES}/fsi_small_h2x.img"
EMPTY = f"{LIB_RES}/fsimage_0000000000000000000"
C210K = f"{LIB_RES}/fsimage_d800_f210k_compressed.img"
SMALL = f"{TOOL_RES}/fsi_small.img"


@needs(H3_2)
def test_parse_small_h3_2_counts():
    rows = parse_fsimage(H3_2)
    dirs = [r for r in rows if r["type"] == "DIRECTORY"]
    files = [r for r in rows if r["type"] == "FILE"]
    assert len(dirs) == 14
    assert len(files) == 16
    assert sum(sum(b[2] for b in r["blocks"]) for r in files) == 356417536
    assert {r["user"] for r in rows} == {"mm", "root", "foo"}
    assert {r["group"] for r in rows} == {"supergroup", "root", "nobody"}


@needs(H2X)
def test_parse_h2x_compat():
    rows = parse_fsimage(H2X)
    assert sum(1 for r in rows if r["type"] == "DIRECTORY") == 14
    assert sum(1 for r in rows if r["type"] == "FILE") == 16


@needs(EMPTY)
def test_parse_empty_image():
    rows = parse_fsimage(EMPTY)
    assert len(rows) == 1
    (root,) = rows
    assert root["id"] == 16385 and root["type"] == "DIRECTORY" and root["name"] == ""


@needs(C210K)
def test_parse_compressed_210k():
    rows = parse_fsimage(C210K)
    assert sum(1 for r in rows if r["type"] == "DIRECTORY") == 807
    assert sum(1 for r in rows if r["type"] == "FILE") == 209560
    assert {r["user"] for r in rows} == {"mm"}


@needs(SMALL)
def test_root_permission_golden():
    # permission 1099511759341 => mm:supergroup:0755 (tool/README.md:156-195)
    rows = parse_fsimage(SMALL)
    root = next(r for r in rows if r["id"] == 16385)
    assert (root["user"], root["group"], root["mode"]) == ("mm", "supergroup", 0o755)


@needs(SMALL)
def test_load_fsimage_end_to_end_summary_golden(spark):
    from hfsa_spark.operators.summary import summary_report
    from hfsa_spark.sinks import summary_txt
    from tests.test_sinks import SUMMARY_GOLDEN

    inodes = load_fsimage(spark, SMALL)
    assert summary_txt(summary_report(inodes)) == SUMMARY_GOLDEN


INODE_DUMP_GOLDEN = """\
type: DIRECTORY
id: 16385
name: ""
directory {
  modificationTime: 1499493618390
  nsQuota: 9223372036854775807
  dsQuota: 18446744073709551615
  permission: 1099511759341
}

type: DIRECTORY
id: 16388
name: "test3"
directory {
  modificationTime: 1497734744891
  nsQuota: 18446744073709551615
  dsQuota: 18446744073709551615
  permission: 1099511759341
}

type: FILE
id: 16402
name: "test_160MiB.img"
file {
  replication: 1
  modificationTime: 1497734744886
  accessTime: 1497734743534
  preferredBlockSize: 134217728
  permission: 5497558401444
  blocks {
    blockId: 1073741834
    genStamp: 1010
    numBytes: 134217728
  }
  blocks {
    blockId: 1073741835
    genStamp: 1011
    numBytes: 33554432
  }
  storagePolicyID: 0
}

type: DIRECTORY
id: 16387
name: "test2"
directory {
  modificationTime: 1497733426149
  nsQuota: 18446744073709551615
  dsQuota: 18446744073709551615
  permission: 1099511759341
}

"""


@needs(SMALL)
def test_inode_text_dump_golden():
    """InodeInfoCommandTest.java:25-79 — the exact TextFormat dump, raw
    packed permission longs and unsigned quota rendering included."""
    from hfsa_spark.extract.fsimage import inode_text_dump

    out = inode_text_dump(
        SMALL, ["/", "/test3", "/test3/test_160MiB.img", "16387"]
    )
    assert out == INODE_DUMP_GOLDEN


@needs(H3_2)
def test_load_fsimage_point_lookup(spark):
    from hfsa_spark import FsImageAnalytics

    inodes = load_fsimage(spark, H3_2)
    fa = FsImageAnalytics(inodes)
    assert fa.has_inode("/test3//foo")  # '//' normalization (L2)
    assert not fa.has_inode("/nope")
    row = fa.inode_by_path("/test3").select("type").head()
    assert row["type"] == "DIRECTORY"


# ------------------------------------------------- distributed decode --


def _frames_equal(a, b) -> bool:
    return (
        a.count() == b.count()
        and a.exceptAll(b).isEmpty()
        and b.exceptAll(a).isEmpty()
    )


@needs(C210K)
def test_distributed_matches_driver_210k(spark, tmp_path):
    """Parity gate (VERDICT r1 item 2): executor-parallel decode of the
    compressed 210k image must match the driver-side parse exactly; 64 KiB
    chunks force real multi-chunk parallelism."""
    img = C210K
    driver = load_fsimage(spark, img, distributed=False)
    dist = load_fsimage(
        spark, img, distributed=True, target_chunk_bytes=64 << 10,
        scratch_dir=str(tmp_path),
    )
    assert _frames_equal(driver.drop("blocks"), dist.drop("blocks"))
    # blocks arrays: compare via a per-row fold (exceptAll over array<struct>
    # is fine, but keep the count explicit for a readable failure)
    assert _frames_equal(
        driver.select("id", "blocks"), dist.select("id", "blocks")
    )


@needs(H3_2)
def test_distributed_matches_driver_small_uncompressed(spark, tmp_path):
    """Uncompressed path: executors read byte ranges of the image itself
    (no scratch file); 256-byte chunks exercise chunk-boundary handling."""
    img = H3_2
    driver = load_fsimage(spark, img, distributed=False)
    dist = load_fsimage(
        spark, img, distributed=True, target_chunk_bytes=256,
        scratch_dir=str(tmp_path),
    )
    assert _frames_equal(driver, dist)
