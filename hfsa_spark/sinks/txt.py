"""Golden txt report formatting (SURVEY.md §2.1 S6).

Byte-for-byte re-implementations of the reference's fixed-width txt
reports (dynamic column widths from data):

* summary      — /root/reference tool/.../SummaryReportCommand.java:208-283
* smallfiles   — tool/.../SmallFilesReportCommand.java:161-276
* userusage    — tool/.../UserUsageReportCommand.java:135-177
* path report  — tool/.../PathReportCommand.java:169-211
* width/pad helpers — tool/.../FormatUtil.java:16-106

All formatters run driver-side over collected rows: every report is a
top-N / per-user / per-group aggregate, so the result sets are small by
construction no matter the input scale — the heavy lifting stayed in
Spark. One action per report: the summary and small-files formatters take
the report's single collected result (``SummaryReport.collect``,
``SmallFilesReport.collect_hotspots``) and do no Spark work of their own.

Percent formatting follows the process locale's decimal separator
(LC_NUMERIC), matching the reference's platform-locale behavior
(SmallFilesReportCommandTest.java:13,54); the C-locale default '.' is
pinned by the goldens.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hfsa_spark.functions.buckets import bucket_borders
from hfsa_spark.functions.iec import format_iec
from hfsa_spark.functions.perms import mode_rwx_py
from hfsa_spark.operators.smallfiles import TOP_USERS_WITH_DETAIL, SmallFilesReport
from hfsa_spark.operators.summary import SummaryReport

# --------------------------------------------------- FormatUtil twins --


def number_of_digits(value: int) -> int:
    """Digit count via the reference's float formula (FormatUtil.java:39-45):
    ceil(log10(v + 0.5)); 0 → 1."""
    if value == 0:
        return 1
    return int(math.ceil(math.log10(value + 0.5)))


def _pad_trunc(s: str, width: int) -> str:
    """Java '%-W.Ws' — left-justify AND truncate to width."""
    return s[:width].ljust(width)


def _fmt_pct(pct: float) -> str:
    """Reference parity for the smallfiles % column: Java's
    String.format("%3.1f%%") uses the PLATFORM default locale's decimal
    separator (SmallFilesReportCommandTest.java:13,54 pin ',' under
    de_DE). Honor the process LC_NUMERIC the same way — under the default
    C locale this stays '.', which the goldens pin."""
    import locale

    s = f"{pct:3.1f}"
    dp = locale.localeconv()["decimal_point"]
    return (s.replace(".", dp) if dp != "." else s) + "%"


def _bucket_columns(overall_buckets: list[int]) -> tuple[list[str], list[int], int]:
    """(units, column widths, n columns) for the histogram columns.

    n = max nonzero bucket index + 1 (SizeBucket.findMaxNumBucket +
    computeBucketUpperBorders: borders printed up to the largest observed
    file size); width per column = max(len(IEC unit), digits(overall count))."""
    max_nonzero = 0
    for i, c in enumerate(overall_buckets):
        if c > 0:
            max_nonzero = i
    n = max_nonzero + 1
    units = [format_iec(b) for b in bucket_borders(n)]
    widths = [
        max(len(units[i]), number_of_digits(overall_buckets[i] if i < len(overall_buckets) else 0))
        for i in range(n)
    ]
    return units, widths, n


def _bucket_header(units: list[str], widths: list[int]) -> str:
    return " ".join(u.rjust(w) for u, w in zip(units, widths))


def _bucket_values(buckets: list[int], widths: list[int]) -> str:
    """boxAndPadWithZeros + right-justified join (FormatUtil.java:90-106)."""
    padded = [(buckets[i] if i < len(buckets) else 0) for i in range(len(widths))]
    return " ".join(str(v).rjust(w) for v, w in zip(padded, widths))


# ------------------------------------------------------- summary txt --

_SUMMARY_HDR1 = (
    "#Groups  | #Users      | #Directories | #Symlinks |  #Files     "
    "| Size [MB] | CSize[MB] | #Blocks   | File Size Buckets "
)
_SUMMARY_HDR1_PREFIX = (
    "         |             |              |           |             "
    "|           |           |           | "
)
_BY_HDR_TAIL = (
    " | #Directories | #SymLinks | #File      | Size [MB] | CSize[MB] "
    "| #Blocks   | File Size Buckets"
)
# "     " + the 2nd-line literal from doSummary (:246-247, :262-263)
_BY_HDR_PREFIX = (
    "     "
    "                  |              |           |            "
    "|           |           |           | "
)


def summary_txt(report: SummaryReport) -> str:
    """HDFS Summary txt (doSummary, SummaryReportCommand.java:208-283)."""
    overall, groups, users = report.collect()

    units, widths, _n = _bucket_columns(list(overall["size_buckets"]))
    bucket_header = _bucket_header(units, widths)

    out: list[str] = [""]
    title = f"HDFS Summary : {report.dir}"
    out.append(title)
    out.append("-" * len(title))
    out.append("")
    out.append(_SUMMARY_HDR1)
    hdr2 = _SUMMARY_HDR1_PREFIX + bucket_header
    out.append(hdr2)
    out.append("-" * len(hdr2))
    out.append(
        f"{overall['num_groups']:8d} | {overall['num_users']:11d} "
        f"| {overall['sum_directories']:12d} | {overall['sum_symlinks']:9d} "
        f"| {overall['sum_files']:10d} | {overall['sum_file_size'] // (1024 * 1024):9d} "
        f"| {overall['sum_consumed_size'] // (1024 * 1024):9d} | {overall['sum_blocks']:9d} "
        f"| {_bucket_values(list(overall['size_buckets']), widths)}"
    )
    out.append("")

    def stat_rows(rows, name_col: str) -> None:
        for r in rows:
            out.append(
                f"{r[name_col] or '':>22s} |   {r['sum_directories']:10d} | {r['sum_symlinks']:9d} "
                f"| {r['sum_files']:10d} | {r['sum_file_size'] // (1024 * 1024):9d} "
                f"| {r['sum_consumed_size'] // (1024 * 1024):9d} | {r['sum_blocks']:9d} "
                f"| {_bucket_values(list(r['size_buckets']), widths)}"
            )

    out.append(f"By group:     {len(groups):8d}" + _BY_HDR_TAIL)
    hdr2 = _BY_HDR_PREFIX + bucket_header
    out.append(hdr2)
    out.append("-" * len(hdr2))
    stat_rows(groups, "group")

    out.append("")
    out.append(f"By user:      {len(users):8d}" + _BY_HDR_TAIL)
    out.append(hdr2)
    out.append("-" * len(hdr2))
    stat_rows(users, "user")

    return "\n".join(out) + "\n"


# ---------------------------------------------------- smallfiles txt --


def small_files_txt(report: SmallFilesReport) -> str:
    """Small files report txt (handleReport + printOverallReport +
    printUsersReport, SmallFilesReportCommand.java:161-276). The top-N
    headers print the limits the report was cut with."""
    res = report.collect_hotspots()
    overall = res.total

    out: list[str] = [""]
    out.append(f"Small files report (< {format_iec(report.limit_bytes)})")
    out.append("")

    user_sum = sum(c for _, c in res.users)
    w = number_of_digits(overall)
    if overall != user_sum:  # user regex filtered the per-user branch
        out.append(f"Overall small files         : {overall:{w}d}")
        out.append(f"User (filtered) small files : {user_sum:{w}d}")
    else:
        out.append(f"Overall small files : {overall:{w}d}")
    out.append("")

    label_count = "#Small files "
    max_w_sum = max(number_of_digits(overall), len(label_count))
    header = f"{label_count} | Path (top {report.hotspot_limit}) "
    out.append(header)
    out.append("-" * len(header))
    for path, count in res.hotspots:
        out.append(f"{count:{max_w_sum}d} | {path}")
    out.append("")

    if not res.users:
        out.append(f"No users found in directory paths [{report.dir}]")
        return "\n".join(out) + "\n"

    # Username | #Small files | %; a null user prints as ""
    max_w_user = max(max(len(u or "") for u, _ in res.users), len("Username"))
    top_count = res.users[0][1]
    max_w_cnt = max(number_of_digits(top_count), len("#Small files"))
    out.append(f"{_pad_trunc('Username', max_w_user)} | {_pad_trunc('#Small files', max_w_cnt)} | %")
    out.append("-" * (max_w_user + 3 + max_w_cnt + 3 + 10))
    for user, count in res.users:
        pct = float(count) / overall * 100.0
        out.append(f"{user or '':<{max_w_user}s} | {count:{max_w_cnt}d} | {_fmt_pct(pct)}")
    out.append("")

    # Per-user hotspot details (top 10 users hardcoded, :235-247)
    hotspot_label = f"Small files hotspots (top {report.user_hotspot_limit} count/path)"
    out.append(f"{_pad_trunc('Username', max_w_user)} | {hotspot_label}")
    sep_len = max_w_user + 3 + len(hotspot_label)
    out.append("-" * sep_len)

    for user, _ in res.users[:TOP_USERS_WITH_DETAIL]:
        for i, (path, count) in enumerate(res.paths.get(user, [])):
            name = (user or "") if i == 0 else ""
            out.append(f"{_pad_trunc(name, max_w_user)} | {count:{max_w_cnt}d} | {path}")
        out.append("-" * sep_len)

    return "\n".join(out) + "\n"


# ----------------------------------------------------- userusage txt --


def user_usage_txt(
    rolled: DataFrame,
    user: str,
    dir: str = "/",
    limit: int = 20,
    age_ms: int = 0,
    now_ms: int | None = None,
) -> str:
    """Size report txt (handleReport + printUsersReport,
    UserUsageReportCommand.java:135-177).

    ``rolled`` is the UNLIMITED ancestor-rollup (path, sum_size) — the
    reference sizes the path column over the full rolled-up map before
    applying the limit (:156-160), so the sink needs the pre-limit frame;
    the path-width agg and the top-N fetch run as two small Spark jobs."""
    max_w = rolled.agg(F.max(F.length("path"))).collect()[0][0] or 1
    rows = rolled.orderBy(F.col("sum_size").desc(), F.col("path").asc()).limit(limit).collect()

    out: list[str] = [""]
    if age_ms > 0:
        base_ms = now_ms if now_ms is not None else int(datetime.now().timestamp() * 1000)
        cutoff = datetime.fromtimestamp((base_ms - age_ms) / 1000.0, tz=timezone.utc)
        iso = cutoff.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3]
        out.append(f"Size report (user={user}, start dir={dir}, last modification older {iso})")
    else:
        out.append(f"Size report (user={user}, start dir={dir})")
    out.append("")
    if not rows:
        out.append("No data found")
    else:
        for r in rows:
            out.append(f"{r['path']:<{max_w}s} | {format_iec(r['sum_size'])}")
    return "\n".join(out) + "\n"


# --------------------------------------------------- path report txt --

_TYPE_CHAR = {"FILE": "-", "DIRECTORY": "d", "SYMLINK": "l"}


def path_report_txt(listing: DataFrame, dirs: list[str] | None = None, filter_desc: str = "no filter") -> str:
    """Path report txt (doTxtReport, PathReportCommand.java:169-211).

    ``listing`` must carry (full_path, type, user, group, mode) — e.g. the
    output of operators.pathreport.path_report(); printed ordered by path."""
    rows = listing.select("full_path", "type", "user", "group", "mode").orderBy("full_path").collect()
    dirs = dirs or ["/"]

    n_files = sum(1 for r in rows if r["type"] == "FILE")
    n_dirs = sum(1 for r in rows if r["type"] == "DIRECTORY")
    n_sym = sum(1 for r in rows if r["type"] == "SYMLINK")

    out: list[str] = [""]
    scope = f"path={dirs[0]}" if len(dirs) == 1 else "paths=[" + ", ".join(dirs) + "]"
    title = f"Path report ({scope}, {filter_desc}) :"
    out.append(title)
    out.append("-" * len(title))
    out.append("")
    out.append(
        f"{n_files} file{'s' if n_files != 1 else ''}, "
        f"{n_dirs} director{'ies' if n_dirs != 1 else 'y'} and "
        f"{n_sym} symlink{'s' if n_sym != 1 else ''}"
    )
    out.append("")

    max_u = max((len(r["user"]) for r in rows), default=0)
    max_g = max((len(r["group"]) for r in rows), default=0)
    for r in rows:
        out.append(
            f"{_TYPE_CHAR[r['type']]}{mode_rwx_py(r['mode'])}"
            f" {r['user']:<{max_u}s} {r['group']:<{max_g}s} {r['full_path']}"
        )
    return "\n".join(out) + "\n"
