"""The ``s2s-spark`` command surface: its ``--help`` text, pinned byte for
byte, and the commands and input errors that must run without a Spark
session.

Regenerate the help snapshot after a deliberate change to the surface:

    python -c "from tests.test_cli_surface import help_text; \
print(help_text(), end='')" > tests/cli_help.txt

(run with ``COLUMNS=80``, which ``help_text`` also sets)."""

from __future__ import annotations

import contextlib
import io
import os
import sqlite3
from pathlib import Path

import pytest
import yaml

from stream2segment_spark import cli

SNAPSHOT = Path(__file__).with_name("cli_help.txt")

COMMANDS = (
    "init", "download", "process", "show", "dl-stats", "dl-summary",
    "dl-log", "dl-config", "db-drop", "db-classlabel", "import-db",
    "export-db", "tt-create", "curate", "search", "bpe-train", "isf-phases",
    "lm-train", "lm-score", "compact", "skew", "rank", "layout",
    "media-probe", "validate", "hist", "corr", "lsh-tune", "ingest-wet",
    "export-jsonl", "classify", "dsir-select", "bpe-apply", "sql",
    "explain", "profile", "diff", "ingest",
)


def _help(argv: list[str]) -> str:
    out = io.StringIO()
    with contextlib.redirect_stdout(out), pytest.raises(SystemExit) as exc:
        cli.main([*argv, "--help"])
    assert exc.value.code == 0
    return out.getvalue()


def help_text() -> str:
    """``s2s-spark --help`` then ``<cmd> --help`` for every command, at
    an 80-column terminal width."""
    prev = os.environ.get("COLUMNS")
    os.environ["COLUMNS"] = "80"
    try:
        return "".join(
            f"=== {' '.join(['s2s-spark', *argv, '--help'])} ===\n"
            + _help(argv) for argv in ([], *([c] for c in COMMANDS)))
    finally:
        if prev is None:
            del os.environ["COLUMNS"]
        else:
            os.environ["COLUMNS"] = prev


def test_help_matches_snapshot():
    assert help_text() == SNAPSHOT.read_text(encoding="utf-8")


def test_snapshot_covers_every_command():
    listed = _help([]).split("{", 1)[1].split("}", 1)[0].split(",")
    assert sorted(listed) == sorted(COMMANDS)


@pytest.fixture
def no_spark(monkeypatch):
    """Any attempt to start (or join) a Spark session fails the test."""
    from stream2segment_spark import session

    def refuse(*args, **kwargs):
        raise AssertionError("this path must not start a Spark session")

    monkeypatch.setattr(session, "get_spark", refuse)


def test_driver_only_paths_start_no_session(no_spark, tmp_path, capsys):
    from stream2segment_spark import warehouse as wh

    cfg = tmp_path / "cfg.yaml"
    wh_dir = tmp_path / "wh"
    cfg.write_text(yaml.safe_dump({"warehouse": str(wh_dir)}))
    c = ["-c", str(cfg)]

    assert cli.main(["init", str(tmp_path / "tmpl")]) == 0
    assert cli.main(["tt-create", "-m", "demo", "-o",
                     str(tmp_path / "tt.npz"), "-t", "2.0", "--maxdepth",
                     "200", "--maxdist", "40", "--local"]) == 0
    assert cli.main(["lsh-tune", "--threshold", "0.5"]) == 0
    assert cli.main(["lsh-tune", "--threshold", "1.5"]) == 2
    assert cli.main(["export-db", *c, "-o",
                     str(tmp_path / "empty.sqlite")]) == 1
    assert cli.main(["db-classlabel", *c, "--add", "noise", "noisy"]) == 0

    db = tmp_path / "other.sqlite"
    with sqlite3.connect(db) as con:
        con.execute("CREATE TABLE unrelated (x INTEGER)")
    assert cli.main(["import-db", *c, "-d", str(db)]) == 1
    assert cli.main(["import-db", *c, "-d", f"sqlite:///{db}"]) == 1

    wh.record_download(str(wh_dir), log_text="the log",
                       config_text="the config")
    capsys.readouterr()
    assert cli.main(["dl-log", *c]) == 0
    assert capsys.readouterr().out == "the log\n"
    assert cli.main(["dl-config", *c, "-1"]) == 0
    assert capsys.readouterr().out == "the config\n"


def test_input_errors_start_no_session(no_spark, tmp_path, capsys):
    missing = str(tmp_path / "missing")
    assert cli.main(["explain", "no_such_entry"]) == 2
    assert "unknown entry" in capsys.readouterr().err
    assert cli.main(["search", "-i", missing]) == 2
    assert "empty query" in capsys.readouterr().err
    assert cli.main(["search", "-q", "term"]) == 2
    assert "need -i corpus or --index" in capsys.readouterr().err
    assert cli.main(["bpe-apply", "-i", missing, "-m", missing,
                     "-o", missing]) == 2
    assert "cannot read merge table" in capsys.readouterr().err
    assert cli.main(["isf-phases", "-i", missing, "-o", missing]) == 2
    assert "cannot read" in capsys.readouterr().err
