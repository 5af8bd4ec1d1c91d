"""JSON report sinks (SURVEY.md §2.1 S8).

Reference: Gson with custom adapters + pretty printing
(/root/reference tool/.../JsonUtil.java:19-109,
AbstractReportCommand.java:35-39). Shapes preserved:

* size histograms serialize as ``[{"0 B": n0}, {"1 MiB": n1}, ...]`` —
  one single-key object per bucket, borders trimmed PER STAT to its own
  max observed bucket (SizeBucketTypeAdapter, JsonUtil.java:92-104)
* inode json reports ``atime`` populated from the MODIFICATION time for
  all types — a reference quirk (JsonUtil.java:41, :57, :67)
* summary json: {dirPath, groupStats: {name: stats}, userStats,
  overallStats}; smallfiles json: {sumOverallSmallFiles, ...,
  userToReport}; path json: {results, fileCount, dirCount, symLinkCount}
"""

from __future__ import annotations

import json as _json

from pyspark.sql import DataFrame, Row

from hfsa_spark.functions.buckets import bucket_borders
from hfsa_spark.functions.iec import format_iec
from hfsa_spark.functions.perms import mode_rwx_py
from hfsa_spark.operators.pathreport import PathReport
from hfsa_spark.operators.smallfiles import SmallFilesReport
from hfsa_spark.operators.summary import SummaryReport

_TYPE_JSON = {"FILE": "file", "DIRECTORY": "directory", "SYMLINK": "symlink"}


def _dumps(obj) -> str:
    return _json.dumps(obj, indent=2, ensure_ascii=False)


def _buckets_json(buckets: list[int]) -> list[dict[str, int]]:
    max_nonzero = 0
    for i, c in enumerate(buckets):
        if c > 0:
            max_nonzero = i
    n = max_nonzero + 1
    units = [format_iec(b) for b in bucket_borders(n)]
    return [{units[i]: (buckets[i] if i < len(buckets) else 0)} for i in range(n)]


def _stats_json(r: Row, name_field: str | None = None, name_value: str | None = None) -> dict:
    out: dict = {}
    if name_field:
        out[name_field] = name_value
    out.update(
        {
            "sumFiles": r["sum_files"],
            "sumDirectories": r["sum_directories"],
            "sumSymLinks": r["sum_symlinks"],
            "sumBlocks": r["sum_blocks"],
            "sumFileSize": r["sum_file_size"],
            "sumConsumedFileSize": r["sum_consumed_size"],
            "fileSizeBuckets": _buckets_json(list(r["size_buckets"])),
        }
    )
    return out


def summary_json(report: SummaryReport) -> str:
    overall, groups, users = report.collect()
    return _dumps(
        {
            "dirPath": report.dir,
            "groupStats": {
                r["group"]: _stats_json(r, "groupName", r["group"]) for r in groups
            },
            "userStats": {r["user"]: _stats_json(r, "userName", r["user"]) for r in users},
            "overallStats": _stats_json(overall),
        }
    )


def small_files_json(report: SmallFilesReport) -> str:
    res = report.collect_paths()
    return _dumps(
        {
            "sumOverallSmallFiles": res.total,
            "sumUserSmallFiles": sum(c for _, c in res.users),
            "userToReport": {
                user: {
                    "userName": user,
                    "sumSmallFiles": count,
                    "pathToCounter": dict(res.paths[user]),
                }
                for user, count in res.users
            },
        }
    )


def user_usage_json(rolled: DataFrame) -> str:
    rows = sorted(rolled.collect(), key=lambda r: r["path"])  # paths are unique
    return _dumps({"pathToSize": {r["path"]: r["sum_size"] for r in rows}})


def path_report_json(report: PathReport) -> str:
    rows = report.listing.select("full_path", "type", "user", "group", "mode").orderBy(
        "full_path"
    ).collect()
    counts = report.counts.collect()[0]
    return _dumps(
        {
            "results": [
                {
                    "path": r["full_path"],
                    "type": _TYPE_JSON[r["type"]],
                    "user": r["user"],
                    "group": r["group"],
                    "permission": mode_rwx_py(r["mode"]),
                }
                for r in rows
            ],
            "fileCount": counts["file_count"],
            "dirCount": counts["dir_count"],
            "symLinkCount": counts["symlink_count"],
        }
    )


def inode_info_json(matched: DataFrame) -> str:
    """One object per matched inode; atime mirrors mtime (JsonUtil quirk)."""
    objs = []
    for r in sorted(matched.collect(), key=lambda r: r["id"]):  # ids are unique
        o: dict = {"id": r["id"], "name": r["name"]}
        perm = f"{r['user']}:{r['group']}:{mode_rwx_py(r['mode'])}"
        t = r["type"]
        if t == "FILE":
            o.update(
                {
                    "type": "file",
                    "permission": perm,
                    "mtime": r["mtime"],
                    "atime": r["mtime"],  # quirk: mtime, not the real atime
                    "replication": r["replication"],
                    "preferredBlockSize": r["preferred_block_size"],
                    "storagePolicyID": r["storage_policy_id"],
                    "erasureCodingPolicyID": r["ec_policy_id"],
                }
            )
        elif t == "DIRECTORY":
            o.update(
                {
                    "type": "directory",
                    "permission": perm,
                    "nsQuota": r["ns_quota"],
                    "dsQuota": r["ds_quota"],
                    "mtime": r["mtime"],
                    "atime": r["mtime"],
                }
            )
        else:
            o.update(
                {
                    "type": "symlink",
                    "permission": perm,
                    "target": r["symlink_target"],
                    "mtime": r["mtime"],
                    "atime": r["mtime"],
                }
            )
        objs.append(o)
    return _dumps(objs if len(objs) != 1 else objs[0])
