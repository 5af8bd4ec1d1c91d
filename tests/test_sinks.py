"""Byte-for-byte golden-output tests for the txt sinks, mirroring the
reference's end-to-end stdout assertions (SURVEY.md §5 layer 3):

* summary    — SummaryReportCommandTest.java:28-95
* smallfiles — SmallFilesReportCommandTest.java:25-55 ('.' decimal sep)
* userusage  — UserUsageReportCommandTest.java:26-65
* path       — PathReportCommandTest.java:25-53

All run against the fsi_small fixture (FIXTURES.md §2 — the synthesized
twin of tool/src/test/resources/fsi_small.img).
"""

from __future__ import annotations

from hfsa_spark.operators.pathreport import path_report
from hfsa_spark.operators.smallfiles import small_files_report
from hfsa_spark.operators.summary import summary_report
from hfsa_spark.operators.userusage import user_usage_report
from hfsa_spark.sinks.txt import (
    path_report_txt,
    small_files_txt,
    summary_txt,
    user_usage_txt,
)

SUMMARY_GOLDEN = """
HDFS Summary : /
----------------

#Groups  | #Users      | #Directories | #Symlinks |  #Files     | Size [MB] | CSize[MB] | #Blocks   | File Size Buckets␣
         |             |              |           |             |           |           |           | 0 B 1 MiB 2 MiB 4 MiB 8 MiB 16 MiB 32 MiB 64 MiB 128 MiB 256 MiB
----------------------------------------------------------------------------------------------------------------------------------------------------------------------
       3 |           3 |            8 |         0 |         11 |       331 |       331 |        12 |   0     2     1     2     1      0      2      1       1       1

By group:            3 | #Directories | #SymLinks | #File      | Size [MB] | CSize[MB] | #Blocks   | File Size Buckets
                       |              |           |            |           |           |           | 0 B 1 MiB 2 MiB 4 MiB 8 MiB 16 MiB 32 MiB 64 MiB 128 MiB 256 MiB
---------------------------------------------------------------------------------------------------------------------------------------------------------------------
                  root |            0 |         0 |          1 |         0 |         0 |         1 |   0     1     0     0     0      0      0      0       0       0
            supergroup |            8 |         0 |          8 |       151 |       151 |         8 |   0     1     1     2     1      0      1      1       1       0
                nobody |            0 |         0 |          2 |       180 |       180 |         3 |   0     0     0     0     0      0      1      0       0       1

By user:             3 | #Directories | #SymLinks | #File      | Size [MB] | CSize[MB] | #Blocks   | File Size Buckets
                       |              |           |            |           |           |           | 0 B 1 MiB 2 MiB 4 MiB 8 MiB 16 MiB 32 MiB 64 MiB 128 MiB 256 MiB
---------------------------------------------------------------------------------------------------------------------------------------------------------------------
                  root |            0 |         0 |          1 |         0 |         0 |         1 |   0     1     0     0     0      0      0      0       0       0
                   foo |            0 |         0 |          1 |       160 |       160 |         2 |   0     0     0     0     0      0      0      0       0       1
                    mm |            8 |         0 |          9 |       171 |       171 |         9 |   0     1     1     2     1      0      2      1       1       0
"""

SUMMARY_FOO_USER_SECTION = """
By user:             1 | #Directories | #SymLinks | #File      | Size [MB] | CSize[MB] | #Blocks   | File Size Buckets
                       |              |           |            |           |           |           | 0 B 1 MiB 2 MiB 4 MiB 8 MiB 16 MiB 32 MiB 64 MiB 128 MiB 256 MiB
---------------------------------------------------------------------------------------------------------------------------------------------------------------------
                   foo |            0 |         0 |          1 |       160 |       160 |         2 |   0     0     0     0     0      0      0      0       0       1
"""

SMALLFILES_GOLDEN = """
Small files report (< 2 MiB)

Overall small files : 3

#Small files  | Path (top 10)␣
------------------------------
            3 | /
            2 | /test3
            1 | /test3/foo

Username | #Small files | %
------------------------------------
mm       |            2 | 66.7%
root     |            1 | 33.3%

Username | Small files hotspots (top 10 count/path)
---------------------------------------------------
mm       |            2 | /
         |            1 | /test3
---------------------------------------------------
root     |            1 | /
         |            1 | /test3
         |            1 | /test3/foo
---------------------------------------------------
"""

USERUSAGE_GOLDEN = """
Size report (user=mm, start dir=/)

/              | 172 MiB
/test3         | 172 MiB
/test3/foo     | 171 MiB
/test3/foo/bar | 151 MiB
"""

USERUSAGE_SUBDIR_GOLDEN = """
Size report (user=mm, start dir=/test3/foo)

/              | 171 MiB
/test3         | 171 MiB
/test3/foo     | 171 MiB
/test3/foo/bar | 151 MiB
"""

PATH_GOLDEN = """
Path report (path=/, no filter) :
---------------------------------

11 files, 8 directories and 0 symlinks

drwxr-xr-x mm   supergroup /
drwxr-xr-x mm   supergroup /test1
drwxr-xr-x mm   supergroup /test2
drwxr-xr-x mm   supergroup /test3
drwxr-xr-x mm   supergroup /test3/foo
drwxr-xr-x mm   supergroup /test3/foo/bar
-rw-r--r-- mm   nobody     /test3/foo/bar/test_20MiB.img
-rw-r--r-- mm   supergroup /test3/foo/bar/test_2MiB.img
-rw-r--r-- mm   supergroup /test3/foo/bar/test_40MiB.img
-rw-r--r-- mm   supergroup /test3/foo/bar/test_4MiB.img
-rw-r--r-- mm   supergroup /test3/foo/bar/test_5MiB.img
-rw-r--r-- mm   supergroup /test3/foo/bar/test_80MiB.img
-rw-r--r-- root root       /test3/foo/test_1KiB.img
-rw-r--r-- mm   supergroup /test3/foo/test_20MiB.img
-rw-r--r-- mm   supergroup /test3/test.img
-rw-r--r-- foo  nobody     /test3/test_160MiB.img
-rw-r--r-- mm   supergroup /test_2KiB.img
drwxr-xr-x mm   supergroup /user
drwxr-xr-x mm   supergroup /user/mm
"""


# \u2423 marks reference trailing spaces (Java text-block \s escapes), which
# editors would otherwise strip from the literals above
SUMMARY_GOLDEN = SUMMARY_GOLDEN.replace("\u2423", " ")
SMALLFILES_GOLDEN = SMALLFILES_GOLDEN.replace("\u2423", " ")


def test_summary_txt_golden(small):
    assert summary_txt(summary_report(small)) == SUMMARY_GOLDEN


def test_summary_txt_user_filter(small):
    out = summary_txt(summary_report(small, user_filter="foo"))
    # overall + group sections unchanged (F1: filter hits user rows only)
    assert out.startswith(SUMMARY_GOLDEN.split("\nBy user:")[0])
    assert out.endswith(SUMMARY_FOO_USER_SECTION)


def test_small_files_txt_golden(small):
    out = small_files_txt(small_files_report(small))
    assert out == SMALLFILES_GOLDEN


def test_small_files_txt_headers_name_the_report_limits(small):
    out = small_files_txt(small_files_report(small, hotspot_limit=2, user_hotspot_limit=2))
    assert (
        "#Small files  | Path (top 2) \n"
        "-----------------------------\n"
        "            3 | /\n"
        "            2 | /test3\n\n"
    ) in out
    assert "Username | Small files hotspots (top 2 count/path)\n" in out


def test_small_files_txt_comma_locale(small, monkeypatch):
    """Reference parity: the % column uses the PLATFORM locale decimal
    separator (SmallFilesReportCommandTest.java:13,54 pins ',' under
    de_DE); the goldens above pin the C-locale '.' default."""
    import locale

    monkeypatch.setattr(locale, "localeconv", lambda: {"decimal_point": ","})
    out = small_files_txt(small_files_report(small))
    assert out == SMALLFILES_GOLDEN.replace("66.7%", "66,7%").replace(
        "33.3%", "33,3%"
    )


def test_user_usage_txt_golden(small):
    rolled = user_usage_report(small, user="mm", now_ms=1600000000000, limit=None)
    assert user_usage_txt(rolled, user="mm") == USERUSAGE_GOLDEN


def test_user_usage_txt_subdir(small):
    rolled = user_usage_report(
        small, user="mm", now_ms=1600000000000, dir="/test3/foo", limit=None
    )
    out = user_usage_txt(rolled, user="mm", dir="/test3/foo")
    assert out == USERUSAGE_SUBDIR_GOLDEN


def test_path_report_txt_golden(small):
    rep = path_report(small)
    assert path_report_txt(rep.listing) == PATH_GOLDEN
