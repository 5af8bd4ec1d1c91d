"""Small-files hotspot report (SURVEY.md §2.6 A3/A4, §2.7 K2/K3/K6,
§2.4 F2/F4).

Reference: /root/reference tool/.../SmallFilesReportCommand.java:278-334.

Exact semantics encoded here (and pinned by tests):
* small file ⇔ ``file_size < limit`` — STRICTLY less, despite the
  reference's ``--help`` claiming "less equals" (:101-105 vs :288). Default
  limit 2 MiB.
* the user-name filter is a FULL-match regex applied during aggregation to
  the per-user stats only; overall counts stay unfiltered
  (createUserNameFilter :336-344, use :290-293 — F2, contrast with
  summary's post-agg substring filter F1).
* per-path counts key on the file's PARENT directory (the visitor's
  ``path`` argument), then roll up to all ancestors (A4).
* global hotspots: count desc, limit N (default 10) (:189-194).
* per-user hotspots: count desc / path asc within user, limit N; users
  ranked by total small files desc; only the top 10 users get detail —
  hardcoded, independent of N (:235-265).

One action per report sink: each ``SmallFilesReport.collect_*`` method runs
ONE Spark collect and returns a ``SmallFiles`` result finished on the driver
— totals, user order and per-user path lists. Everything bounded by the
number of users is split and sorted there; what grows with the number of
directories (rolled-up and raw per-user paths) is cut to top-N in Spark
first. The DataFrame fields stay for callers that compose them (q16).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hfsa_spark.functions.paths import ancestors, subtree_predicate
from hfsa_spark.operators.rollup import ancestor_rollup
from hfsa_spark.operators.summary import asc_key

DEFAULT_LIMIT_BYTES = 2 * 1024 * 1024
TOP_USERS_WITH_DETAIL = 10  # hardcoded in the reference (:235-247)


@dataclass
class SmallFiles:
    """One collected small-files report, as plain Python values."""

    total: int  # every small file in scope, never user-filtered
    users: list[tuple[str, int]]  # kept users with their totals: count desc, user asc
    paths: dict[str, list[tuple[str, int]]]  # per kept user: (path, count)
    hotspots: list[tuple[str, int]] = field(default_factory=list)  # rolled-up top-N


def _count_desc(kv: tuple) -> tuple:
    """(count desc, key asc) — the reference's hotspot and user order."""
    return (-kv[1], *asc_key(kv[0]))


def _by_user(rows) -> dict[str, list[tuple[str, int]]]:
    """Collected (user, path, count) rows as user → [(path, count)]."""
    out: dict[str, list[tuple[str, int]]] = {}
    for r in rows:
        out.setdefault(r["user"], []).append((r["path"], r["count"]))
    return out


def _ranked(sets: DataFrame, set_col: str, n: int) -> DataFrame:
    """Rows ranked ``n`` or better by (count desc, path asc) within their
    (grouping set, user). A set's total row ranks first in its partition —
    alone there, or as '/' of a rollup — so it survives even ``n`` = 0; the
    driver applies the exact limit."""
    rank = Window.partitionBy(set_col, "user").orderBy(F.col("count").desc(), F.col("path").asc())
    return sets.withColumn("__rn", F.row_number().over(rank)).filter(F.col("__rn") <= max(n, 1))


@dataclass
class SmallFilesReport:
    dir: str
    limit_bytes: int
    overall: DataFrame  # 1 row: total small files (unfiltered by user regex)
    path_hotspots: DataFrame  # rolled-up (path, count), top-N
    user_summary: DataFrame  # (user, count, pct_of_total) desc
    user_hotspots: DataFrame  # (user, path, count) — top-N per top-10 user
    # (user, path, count, __keep) over the UNFILTERED small files; __keep is
    # the full-match user filter, so one collect yields total and per-user
    user_paths: DataFrame
    hotspot_limit: int
    user_hotspot_limit: int
    _small: DataFrame
    _keep: Column
    _persisted: DataFrame | None = None

    def unpersist(self) -> None:
        if self._persisted is not None:
            self._persisted.unpersist()

    def collect_paths(self) -> SmallFiles:
        """Every raw (user, path) count, paths ascending — the json sink."""
        rows = self.user_paths.collect()
        paths = _by_user(r for r in rows if r["__keep"])
        return SmallFiles(
            total=sum(r["count"] for r in rows),
            users=sorted(((u, sum(c for _, c in ps)) for u, ps in paths.items()), key=_count_desc),
            paths={u: sorted(ps, key=lambda pc: asc_key(pc[0])) for u, ps in paths.items()},
        )

    def collect_raw_top(self, limit: int) -> SmallFiles:
        """Raw per-user top-``limit`` paths (count desc, path asc) plus the
        totals, from ONE grouping-sets aggregate ((user, path), (user), ())
        ranked in Spark — the csv sink."""
        sets = self._small.groupingSets([["user", "path"], ["user"], []], "user", "path").agg(
            F.count(F.lit(1)).alias("count"), F.grouping_id("user", "path").alias("__gid")
        )
        rows = _ranked(sets.filter((F.col("__gid") == 3) | self._keep), "__gid", limit).collect()
        paths = _by_user(r for r in rows if r["__gid"] == 0)
        users = [(r["user"], r["count"]) for r in rows if r["__gid"] == 1]
        return SmallFiles(
            total=sum(r["count"] for r in rows if r["__gid"] == 3),
            users=sorted(users, key=_count_desc),
            paths={u: sorted(ps, key=_count_desc)[:limit] for u, ps in paths.items()},
        )

    def collect_hotspots(self) -> SmallFiles:
        """Rolled-up hotspots, global and per user, from ONE grouping-sets
        rollup ((anc), (user, anc)) ranked to top-N per set — the txt sink.
        Root counts everything below it, so each set's '/' row (ranked
        first) is its total."""
        sets = (
            self.user_paths.select("user", F.explode(ancestors("path")).alias("path"), "count")
            .groupingSets([["path"], ["user", "path"]], "user", "path")
            .agg(F.sum("count").alias("count"), F.grouping("user").alias("__all"))
        )
        top = max(self.hotspot_limit, self.user_hotspot_limit)
        rows = _ranked(sets.filter((F.col("__all") == 1) | self._keep), "__all", top).collect()
        hot = sorted(((r["path"], r["count"]) for r in rows if r["__all"]), key=_count_desc)
        paths = _by_user(r for r in rows if not r["__all"])
        paths = {u: sorted(ps, key=_count_desc) for u, ps in paths.items()}
        return SmallFiles(
            total=hot[0][1] if hot else 0,
            users=sorted(((u, ps[0][1]) for u, ps in paths.items()), key=_count_desc),
            paths={u: ps[: self.user_hotspot_limit] for u, ps in paths.items()},
            hotspots=hot[: self.hotspot_limit],
        )


def small_files_report(
    inodes: DataFrame,
    dir: str = "/",
    limit_bytes: int = DEFAULT_LIMIT_BYTES,
    user_filter: str | None = None,
    hotspot_limit: int = 10,
    user_hotspot_limit: int = 10,
    persist: bool = False,
) -> SmallFilesReport:
    """``persist=True`` caches the filtered (user, path) projection. Each
    sink reads it once, but a caller that collects several of the report's
    DataFrame fields directly would otherwise re-scan the source once per
    field. The projection is two thin string columns, so the cached
    footprint is tiny relative to the source; call ``report.unpersist()``
    when done."""
    small = inodes.filter(
        subtree_predicate("full_path", dir)
        & (F.col("type") == "FILE")
        & (F.col("file_size") < limit_bytes)
    ).select("user", "path")
    if persist:
        small = small.persist()

    # overall count — never user-filtered (:290-293)
    overall = small.agg(F.count(F.lit(1)).alias("small_files_total"))

    # global per-dir counts rolled up to ancestors, top-N by count desc
    path_counts = ancestor_rollup(small, "path", {"count": F.count(F.lit(1))})
    path_hotspots = path_counts.orderBy(F.col("count").desc(), F.col("path").asc()).limit(
        hotspot_limit
    )

    # per-user branch: FULL-match regex during aggregation (F2)
    keep = F.col("user").rlike(f"^(?:{user_filter})$") if user_filter else F.lit(True)
    user_small = small.filter(keep)
    user_totals = user_small.groupBy("user").agg(F.count(F.lit(1)).alias("count"))
    user_summary = (
        user_totals.crossJoin(F.broadcast(overall))
        .withColumn(
            "pct_of_total",
            F.col("count").cast("double") / F.col("small_files_total").cast("double") * 100.0,
        )
        .select("user", "count", "pct_of_total")
        .orderBy(F.col("count").desc(), F.col("user").asc())
    )

    top_users = user_totals.orderBy(F.col("count").desc(), F.col("user").asc()).limit(
        TOP_USERS_WITH_DETAIL
    )
    per_user_counts = ancestor_rollup(
        user_small, "path", {"count": F.count(F.lit(1))}, extra_keys=["user"]
    )
    w = Window.partitionBy("user").orderBy(F.col("count").desc(), F.col("path").asc())
    user_hotspots = (
        per_user_counts.join(F.broadcast(top_users.select("user")), "user", "left_semi")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= user_hotspot_limit)
        .drop("__rn")
        .orderBy(F.col("user").asc(), F.col("count").desc(), F.col("path").asc())
    )

    user_paths = small.groupBy("user", "path").agg(F.count(F.lit(1)).alias("count"))
    user_paths = user_paths.withColumn("__keep", keep)
    return SmallFilesReport(
        dir=dir,
        limit_bytes=limit_bytes,
        overall=overall,
        path_hotspots=path_hotspots,
        user_summary=user_summary,
        user_hotspots=user_hotspots,
        user_paths=user_paths,
        hotspot_limit=hotspot_limit,
        user_hotspot_limit=user_hotspot_limit,
        _small=small,
        _keep=keep,
        _persisted=small if persist else None,
    )
