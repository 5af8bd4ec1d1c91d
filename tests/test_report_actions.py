"""One Spark action per hfsa report: every summary and small-files sink
collects its report exactly once, and the split, count and sort done on the
driver over that one result match what Spark computes for the DataFrame
fields."""

from __future__ import annotations

import csv
import io
import re
import uuid
from itertools import takewhile

import pytest
from pyspark.sql import functions as F

from hfsa_spark import sinks
from hfsa_spark.operators.smallfiles import small_files_report
from hfsa_spark.operators.summary import SummarySort, summary_report

# jobs per sink call on the cached fsi_small fixture, measured: one
# collect, plus one job per shuffle stage that AQE submits ahead of it
SUMMARY_JOBS = 2
SMALL_FILES_JOBS = {"small_files_json": 2, "small_files_txt": 4, "small_files_csv": 3}


def _run_counted(spark, monkeypatch, fn) -> tuple[int, int]:
    """(DataFrame.collect calls, Spark jobs) made by ``fn()``."""
    df_class = type(spark.range(1))
    collect = df_class.collect
    calls = []

    def counted(self):
        calls.append(1)
        return collect(self)

    sc = spark.sparkContext
    group = f"report-actions-{uuid.uuid4().hex}"
    monkeypatch.setattr(df_class, "collect", counted)
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        monkeypatch.undo()
    return len(calls), len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def built(small):
    """The fixture with its cache already built, so no count includes it."""
    small.count()
    return small


@pytest.mark.parametrize("sink", ["summary_txt", "summary_json", "summary_csv"])
def test_summary_sink_runs_one_collect(spark, built, monkeypatch, sink):
    collects, jobs = _run_counted(
        spark, monkeypatch, lambda: getattr(sinks, sink)(summary_report(built))
    )
    assert collects == 1
    assert jobs == SUMMARY_JOBS <= 3


@pytest.mark.parametrize("sink", sorted(SMALL_FILES_JOBS))
def test_small_files_sink_runs_one_collect(spark, built, monkeypatch, sink):
    collects, jobs = _run_counted(
        spark, monkeypatch, lambda: getattr(sinks, sink)(small_files_report(built))
    )
    assert collects == 1
    assert jobs == SMALL_FILES_JOBS[sink]


# names whose order differs between byte, case-folded and locale collation,
# plus a null user and a null group
NAMES = [None, "Z", "a", "é", "😀"]


@pytest.fixture(scope="module")
def principals(spark):
    """Every (user, group) pair over NAMES owns one file; file sizes tie in
    pairs of users and of groups, so the name breaks most sort-key ties."""
    rows = [
        (f"/d/f{i}{j}", "/d", "FILE", 10 * (i // 2) + j // 2, 0, 1, u, g)
        for i, u in enumerate(NAMES)
        for j, g in enumerate(NAMES)
    ]
    rows.append(("/d", "/", "DIRECTORY", 0, 0, 0, "Z", "Z"))
    return spark.createDataFrame(
        rows,
        "full_path string, path string, type string, file_size long, consumed_size long, "
        "num_blocks long, user string, group string",
    )


@pytest.mark.parametrize("sort", list(SummarySort), ids=lambda s: s.value)
def test_summary_collect_order_matches_spark(principals, sort):
    rep = summary_report(principals, sort=sort)
    overall, groups, users = rep.collect()
    assert [r["user"] for r in users] == [r["user"] for r in rep.by_user.collect()]
    assert [r["group"] for r in groups] == [r["group"] for r in rep.by_group.collect()]
    distinct = principals.agg(
        F.countDistinct("user").alias("u"), F.countDistinct("group").alias("g")
    ).head()
    assert (overall["num_users"], overall["num_groups"]) == (distinct["u"], distinct["g"]) == (4, 4)
    assert rep.overall.head().asDict() == overall


def test_java_only_user_filter_runs_in_spark(principals):
    pattern = r"\p{Lower}+"
    with pytest.raises(re.error):
        re.compile(pattern)
    rep = summary_report(principals, user_filter=pattern)
    overall, _, users = rep.collect()
    assert [r["user"] for r in users] == [r["user"] for r in rep.by_user.collect()] == ["a"]
    assert overall["num_users"] == 4  # the filter never narrows the count

    sf = small_files_report(principals, user_filter=pattern)
    got = sf.collect_paths()
    assert [u for u, _ in got.users] == [r["user"] for r in sf.user_summary.collect()] == ["a"]
    assert got.total == len(NAMES) ** 2


@pytest.mark.parametrize("sink", ["summary_txt", "summary_json", "summary_csv"])
def test_summary_of_missing_dir_raises(built, sink):
    with pytest.raises(FileNotFoundError, match="/nope"):
        getattr(sinks, sink)(summary_report(built, dir="/nope"))


def _txt_rows(txt: str, header: str) -> list[str]:
    """The row lines under ``header`` (after its ruler), up to a blank line."""
    lines = txt.splitlines()
    start = next(i for i, ln in enumerate(lines) if ln.startswith(header))
    while not lines[start].startswith("---"):
        start += 1
    return list(takewhile(bool, lines[start + 1 :]))


def test_txt_sinks_print_null_names_as_csv_does(principals):
    """A null user or group prints as the empty string, the name the csv
    sink writes for it, in the same rows and order."""
    rep = summary_report(principals)
    csv_rows = list(csv.reader(io.StringIO(sinks.summary_csv(rep))))
    txt = sinks.summary_txt(rep)
    for kind, header in (("Group", "By group:"), ("User", "By user:")):
        got = [ln.split(" | ")[0].strip() for ln in _txt_rows(txt, header)]
        assert got == [r[1] for r in csv_rows if r[0] == kind]
        assert "" in got

    sf = small_files_report(principals)
    csv_rows = list(csv.reader(io.StringIO(sinks.small_files_csv(sf))))
    txt = sinks.small_files_txt(sf)
    got = [ln.split(" | ")[0].strip() for ln in _txt_rows(txt, "Username | #Small files")]
    assert got == [r[1] for r in csv_rows if r[0] == "User"]
    assert "" in got
    detail = _txt_rows(txt, "Username | Small files hotspots")
    assert sum(ln.startswith("---") for ln in detail) == len(NAMES)
