"""Summary report (the flagship; SURVEY.md §2.6 A1/A2, §2.7 K1, §2.4 F1).

Reference: /root/reference tool/.../SummaryReportCommand.java:295-384 — one
parallel traversal accumulating per-group, per-user and overall stats
(ConcurrentHashMap + LongAdder) with an exponential file-size histogram.

Spark-first: ONE scan with ``GROUPING SETS ((user), (group), ())`` — the
Expand operator feeds all three groupings from a single pass, with map-side
partial aggregation, exactly replacing the reference's
"one traversal feeds three accumulators" without custom code. The
46-bucket histogram is 46 conditional sums (codegen'd, no UDF); unused high
buckets are trimmed at display time (dynamic bucket count,
SizeBucket.java:124-141).

One action per report: ``SummaryReport.collect()`` runs that aggregate once
and returns users + groups + 1 plain rows; the txt/csv/json sinks split,
count and sort them on the driver. The result is bounded by the number of
principals, not by the namespace size. The DataFrame fields stay for
callers that compose them (q18, bench.py).
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from hfsa_spark.functions.buckets import size_bucket, MAX_BUCKETS
from hfsa_spark.functions.paths import subtree_predicate


class SummarySort(Enum):
    """Summary sort keys (SummaryReportCommand.java:101-133): ascending."""

    FILE_SIZE = "fs"
    FILE_COUNT = "fc"
    DIR_COUNT = "dc"
    BLOCK_COUNT = "bc"

    @property
    def column(self) -> str:
        return {
            "fs": "sum_file_size",
            "fc": "sum_files",
            "dc": "sum_directories",
            "bc": "sum_blocks",
        }[self.value]


STAT_COLS = [
    "sum_directories",
    "sum_symlinks",
    "sum_files",
    "sum_file_size",
    "sum_consumed_size",
    "sum_blocks",
    "size_buckets",
]


def asc_key(name: str | None) -> tuple[bool, str]:
    """Spark's ascending string order: nulls first, then UTF-8 bytes —
    which is code-point order, i.e. Python's ``str`` comparison."""
    return (name is not None, name or "")


@dataclass
class SummaryReport:
    dir: str
    overall: DataFrame  # 1 row incl. distinct user/group counts
    by_group: DataFrame
    by_user: DataFrame
    sort: SummarySort
    # the GROUPING SETS rows (__gid 1 user, 2 group, 3 overall) plus the
    # user-filter flag __keep — what collect() fetches in one action
    rows: DataFrame

    def collect(self) -> tuple[dict, list[Row], list[Row]]:
        """``(overall, groups, users)`` from ONE Spark action, sorted by
        (sort column, name) ascending like ``by_group``/``by_user``.

        ``overall`` carries ``num_groups``/``num_users``: the non-null names
        among ALL grouping rows (``count(distinct)`` ignores nulls), so the
        user filter does not change ``num_users``.

        A start dir's own row is always in scope, so an empty scope means
        the dir does not exist: that raises ``FileNotFoundError(dir)``."""
        rows = self.rows.collect()

        def part(gid: int, name: str) -> list[Row]:
            got = [r for r in rows if r["__gid"] == gid]
            return sorted(got, key=lambda r: (r[self.sort.column], *asc_key(r[name])))

        groups, all_users = part(2, "group"), part(1, "user")
        top = next((r for r in rows if r["__gid"] == 3), None)
        if top is None:
            raise FileNotFoundError(self.dir)
        overall = {
            "num_groups": sum(r["group"] is not None for r in groups),
            "num_users": sum(r["user"] is not None for r in all_users),
            **{c: top[c] for c in STAT_COLS},
        }
        return overall, groups, [r for r in all_users if r["__keep"]]


def _stat_aggs(num_buckets: int) -> list:
    """Aggregate columns built as SQL strings (a handful of F.expr calls,
    not hundreds of Column-algebra py4j round-trips): with 46 histogram
    buckets the Column-at-a-time form cost ~0.4 s of DRIVER time per
    report build — measured, same lesson as __spark_entry__._namespace."""
    buckets = ", ".join(
        f"sum(case when type = 'FILE' and __bucket = {i} then 1 else 0 end)"
        for i in range(num_buckets)
    )
    exprs = [
        "sum(case when type = 'DIRECTORY' then 1 else 0 end) as sum_directories",
        "sum(case when type = 'SYMLINK' then 1 else 0 end) as sum_symlinks",
        "sum(case when type = 'FILE' then 1 else 0 end) as sum_files",
        "sum(case when type = 'FILE' then file_size else 0 end) as sum_file_size",
        "sum(case when type = 'FILE' then consumed_size else 0 end) as sum_consumed_size",
        "sum(case when type = 'FILE' then num_blocks else 0 end) as sum_blocks",
        f"array({buckets}) as size_buckets",
    ]
    return [F.expr(e) for e in exprs]


def summary_report(
    inodes: DataFrame,
    dir: str = "/",
    user_filter: str | None = None,
    sort: SummarySort = SummarySort.FILE_SIZE,
    num_buckets: int = MAX_BUCKETS,
) -> SummaryReport:
    """Build the summary report for one start directory.

    ``user_filter`` is a *substring* regex applied AFTER aggregation to the
    user rows only — overall and group stats are unaffected
    (filterByUserName, SummaryReportCommand.java:285-293, F1 semantics).
    """
    scoped = inodes.filter(subtree_predicate("full_path", dir)).withColumn(
        "__bucket", size_bucket("file_size")
    )

    grouped = (
        scoped.groupingSets([["user"], ["group"], []], "user", "group")
        .agg(
            *_stat_aggs(num_buckets),
            F.grouping_id("user", "group").alias("__gid"),
        )
    )

    # num_users / num_groups are counted off the grouping rows themselves,
    # and the overall row picked by its __gid: no second aggregate
    overall = grouped.agg(
        F.expr("count_if(__gid = 2 and `group` is not null)").alias("num_groups"),
        F.expr("count_if(__gid = 1 and user is not null)").alias("num_users"),
        *[F.expr(f"max_by({c}, __gid)").alias(c) for c in STAT_COLS],
    ).filter(F.col("sum_directories").isNotNull())  # no rows on an empty scope
    by_group = (
        grouped.filter(F.col("__gid") == 2)
        .select(F.col("group"), *STAT_COLS)
        .orderBy(F.col(sort.column).asc(), F.col("group").asc())
    )
    # substring match (java Matcher.find) == unanchored rlike; evaluated in
    # Spark so the pattern keeps Java regex semantics
    keep = F.col("user").rlike(user_filter) if user_filter else F.lit(True)
    by_user = (
        grouped.filter((F.col("__gid") == 1) & keep)
        .select(F.col("user"), *STAT_COLS)
        .orderBy(F.col(sort.column).asc(), F.col("user").asc())
    )

    return SummaryReport(
        dir=dir, overall=overall, by_group=by_group, by_user=by_user, sort=sort,
        rows=grouped.withColumn("__keep", keep),
    )
