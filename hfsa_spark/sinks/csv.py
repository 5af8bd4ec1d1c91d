"""CSV report sinks (SURVEY.md §2.1 S7).

Reference: Apache Commons CSV printed to stdout
(/root/reference tool/.../AbstractReportCommand.java:27-33, per-command
doCsv* methods). Semantic quirks preserved:

* summary csv OMITS the CSize column that txt has
  (SummaryReportCommand.doCsvSummary:162-205 vs doSummary:230)
* summary csv prints the FULL internal bucket array Java's
  ``Arrays.toString`` style ('[a, b, c]'), length =
  max(18, max bucket + 1) — 18 = initial buckets for 100 GiB
  (SizeBucket.java:85-89)
* smallfiles csv emits RAW per-directory counts — no ancestor rollup
  (doCsvReport streams pathToCounter before any aggregatePaths call,
  SmallFilesReportCommand.java:131-159); deviation: ties broken by path
  asc for determinism (the reference's sort is unstable on count ties)
* path csv Permission column is the 'user:group:rwxr-xr-x' form
  (PermissionStatus.toString, CsvExportTest.java:52-70)
"""

from __future__ import annotations

import csv as _csv
import io

from pyspark.sql import DataFrame

from hfsa_spark.functions.perms import mode_rwx_py
from hfsa_spark.operators.smallfiles import SmallFilesReport
from hfsa_spark.operators.summary import SummaryReport, asc_key

_TYPE_CHAR = {"FILE": "-", "DIRECTORY": "d", "SYMLINK": "l"}


def _writer() -> tuple[io.StringIO, "_csv.writer"]:
    buf = io.StringIO()
    return buf, _csv.writer(buf, lineterminator="\n")


def _java_array(buckets: list[int]) -> str:
    """Arrays.toString of the internal bucket array: grown to
    max(18, max nonzero + 1)."""
    max_nonzero = 0
    for i, c in enumerate(buckets):
        if c > 0:
            max_nonzero = i
    n = max(18, max_nonzero + 1)
    vals = [(buckets[i] if i < len(buckets) else 0) for i in range(n)]
    return "[" + ", ".join(str(v) for v in vals) + "]"


def summary_csv(report: SummaryReport) -> str:
    buf, w = _writer()
    w.writerow(
        ["Type", "Name", "Directories", "Symlinks", "Files", "Size", "Blocks",
         "Size Buckets (0B to 256MiB+)"]
    )
    o, groups, users = report.collect()
    w.writerow(
        ["Overall", "/", o["sum_directories"], o["sum_symlinks"], o["sum_files"],
         o["sum_file_size"], o["sum_blocks"], _java_array(list(o["size_buckets"]))]
    )
    for r in groups:
        w.writerow(
            ["Group", r["group"], r["sum_directories"], r["sum_symlinks"], r["sum_files"],
             r["sum_file_size"], r["sum_blocks"], _java_array(list(r["size_buckets"]))]
        )
    for r in users:
        w.writerow(
            ["User", r["user"], r["sum_directories"], r["sum_symlinks"], r["sum_files"],
             r["sum_file_size"], r["sum_blocks"], _java_array(list(r["size_buckets"]))]
        )
    return buf.getvalue()


def small_files_csv(report: SmallFilesReport) -> str:
    """Type,Name,Path,Small Files — Overall / per-user / per-user raw-count
    hotspots, top ``report.user_hotspot_limit`` per user (no rollup; see
    module docstring)."""
    buf, w = _writer()
    w.writerow(["Type", "Name", "Path", "Small Files"])
    res = report.collect_raw_top(report.user_hotspot_limit)
    w.writerow(["Overall", "/", "", res.total])
    for user, count in res.users:
        w.writerow(["User", user, "", count])
    for user in sorted(res.paths, key=asc_key):
        for path, count in res.paths[user]:
            w.writerow(["Hotspot", user, path, count])
    return buf.getvalue()


def user_usage_csv(rolled: DataFrame) -> str:
    """Path,Size over the rolled-up map (doCsvReport,
    UserUsageReportCommand.java:124-133); path-ordered for determinism."""
    buf, w = _writer()
    w.writerow(["Path", "Size"])
    for r in sorted(rolled.collect(), key=lambda r: r["path"]):  # paths are unique
        w.writerow([r["path"], r["sum_size"]])
    return buf.getvalue()


def path_report_csv(listing: DataFrame) -> str:
    """Path,Type,Permission (doCsvReport, PathReportCommand.java:256-264)."""
    buf, w = _writer()
    w.writerow(["Path", "Type", "Permission"])
    for r in listing.select("full_path", "type", "user", "group", "mode").orderBy("full_path").collect():
        perm = f"{r['user']}:{r['group']}:{mode_rwx_py(r['mode'])}"
        w.writerow([r["full_path"], _TYPE_CHAR[r["type"]], perm])
    return buf.getvalue()


def inode_info_csv(matched: DataFrame) -> str:
    """ID,Name,Type (doCsvReport, InodeInfoCommand.java csv path;
    shape pinned by CsvExportTest.java:77-89)."""
    buf, w = _writer()
    w.writerow(["ID", "Name", "Type"])
    for r in sorted(matched.collect(), key=lambda r: r["id"]):  # ids are unique
        w.writerow([r["id"], r["name"], r["type"]])
    return buf.getvalue()
