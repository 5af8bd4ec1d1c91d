"""Report sinks: golden txt (S6), csv (S7), json (S8) — all driver-side
formatting of small collected result sets; the aggregation stays in Spark.

One Spark action per report: each summary and small-files sink formats the
single result its report collects (``SummaryReport.collect``, the
``SmallFilesReport.collect_*`` methods), already split into overall,
group, user and top-N parts; the sinks only sort and print plain rows."""

from hfsa_spark.sinks.csv import (
    inode_info_csv,
    path_report_csv,
    small_files_csv,
    summary_csv,
    user_usage_csv,
)
from hfsa_spark.sinks.json import (
    inode_info_json,
    path_report_json,
    small_files_json,
    summary_json,
    user_usage_json,
)
from hfsa_spark.sinks.txt import (
    path_report_txt,
    small_files_txt,
    summary_txt,
    user_usage_txt,
)

__all__ = [
    "summary_txt", "small_files_txt", "user_usage_txt", "path_report_txt",
    "summary_csv", "small_files_csv", "user_usage_csv", "path_report_csv", "inode_info_csv",
    "summary_json", "small_files_json", "user_usage_json", "path_report_json", "inode_info_json",
]
