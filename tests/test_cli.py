"""CLI surface tests (HdfsFSImageTool.java parity): in-process main() with
captured stdout — covers the command tree, aliases, default-to-summary,
output formats, and the golden summary text end-to-end."""

from __future__ import annotations

import io
import json
import re
from contextlib import redirect_stdout

import pytest

from hfsa_spark.cli import main


def run_cli(*argv: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(list(argv))
    assert rc == 0
    return buf.getvalue()


@pytest.fixture(scope="module", autouse=True)
def _warm_session(spark):
    # cli.get_spark reuses the session via getOrCreate
    return spark


def test_default_command_is_summary():
    out = run_cli("fixture:fsi_small")
    assert "HDFS Summary" in out and "By user:" in out


def test_summary_matches_golden():
    from tests.test_sinks import SUMMARY_GOLDEN

    out = run_cli("fixture:fsi_small", "summary")
    assert SUMMARY_GOLDEN in out


def test_smallfiles_alias_and_iec_limit():
    full = run_cli("fixture:fsi_small", "sf", "--fsl", "2 MiB")
    assert "small files" in full.lower() or "Small files" in full
    assert run_cli("fixture:fsi_small", "smallfiles", "--fsl", "2 MiB") == full


def test_userusage_csv():
    out = run_cli("fixture:fsi_small_h3_2", "uu", "-u", "mm", "-o", "csv")
    lines = [l for l in out.strip().splitlines() if l]
    assert len(lines) >= 2 and "," in lines[0]


def test_path_json_shape():
    out = run_cli("fixture:fsi_small", "p", "-o", "json")
    doc = json.loads(out)
    assert isinstance(doc, dict) and doc


def test_inode_lookup_by_path():
    out = run_cli("fixture:fsi_small", "i", "/test3/foo/bar/test_20MiB.img")
    assert re.search(r"id: \d+", out)
    assert "type: FILE" in out


def test_unknown_fixture_exits():
    with pytest.raises(SystemExit):
        run_cli("fixture:nope", "summary")


def test_summary_of_missing_dir_exits():
    with pytest.raises(SystemExit, match="/nope"):
        run_cli("fixture:fsi_small", "summary", "-p", "/nope")


def test_smallfiles_uphl_details_every_owner():
    """--uphl cuts the paths per user, not the users: hfsa details the top
    10 users whatever the limit (SmallFilesReportCommand.java:235-247)."""
    out = run_cli("fixture:fsi_small", "sf", "--uphl", "1")
    assert "| Path (top 1) " in out
    detail = out.split("Small files hotspots (top 1 count/path)\n")[1].splitlines()[1:]
    owners = [ln.split(" | ")[0].strip() for ln in detail if not ln.startswith("---")]
    assert owners == ["mm", "root"]
