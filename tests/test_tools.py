"""The measurement tools under ``tools/``: every tool parses its options
(``--help`` exits 0, so a tool importing a removed name fails here),
``bench_compare``'s flag threshold and control normalization, and
``ab.py``'s arm schedule and conf restore. No data files needed."""

from __future__ import annotations

import importlib.util
import json
import subprocess
import sys
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parents[1] / "tools"


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(name, TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("path", sorted(TOOLS.glob("*.py")),
                         ids=lambda p: p.name)
def test_tool_help_exits_zero(path):
    done = subprocess.run([sys.executable, str(path), "--help"],
                          capture_output=True, text=True, timeout=120)
    assert done.returncode == 0, done.stderr
    assert "usage:" in done.stdout


def _artifact(path: Path, queries: dict, control: float | None) -> str:
    full = {"metric": "total_query_wall_sec", "value": sum(queries.values()),
            "unit": "sec", "queries": queries, "sf": 0.01}
    if control is not None:
        full["control"] = control
    path.write_text(json.dumps({"metric": "summary_total_query_wall_sec",
                                "value": 0.0}) + "\n" + json.dumps(full))
    return str(path)


def _compare(monkeypatch, capsys, old: str, new: str, *flags: str):
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", old, new, *flags])
    rc = _tool("bench_compare").main()
    return rc, capsys.readouterr().out


OLD = {"a": 1.0, "b": 1.0, "c": 1.0, "d": 1.0}


def test_bench_compare_flag_threshold(tmp_path, monkeypatch, capsys):
    old = _artifact(tmp_path / "old.json", OLD, 0.5)
    new = _artifact(tmp_path / "new.json", {**OLD, "d": 1.8}, 0.5)
    rc, out = _compare(monkeypatch, capsys, old, new)
    assert rc == 1 and "d " in out and "REGRESSION" in out
    assert "1 flagged" in out
    rc, out = _compare(monkeypatch, capsys, old, new, "--flag", "2.0")
    assert rc == 0 and "0 flagged" in out


def test_bench_compare_control_normalization(tmp_path, monkeypatch, capsys):
    """Every entry twice as slow: a doubled control reads that as host
    load and flags nothing; an unchanged control flags every entry, which
    the median catalog ratio alone would have normalized away."""
    slow = {k: 2 * v for k, v in OLD.items()}
    old = _artifact(tmp_path / "old.json", OLD, 0.5)
    rc, out = _compare(monkeypatch, capsys, old,
                       _artifact(tmp_path / "loaded.json", slow, 1.0))
    assert rc == 0 and "host component 2.00" in out
    rc, out = _compare(monkeypatch, capsys, old,
                       _artifact(tmp_path / "slower.json", slow, 0.5))
    assert rc == 1 and "4 flagged" in out
    rc, out = _compare(monkeypatch, capsys, old,
                       _artifact(tmp_path / "noctl.json", slow, None))
    assert rc == 0 and "normalizing by median catalog ratio" in out


def test_ab_schedule_flips_per_alternation():
    ab = _tool("ab")
    assert ab.schedule(["a", "b"], 4) == [
        ["a", "b"], ["b", "a"], ["a", "b"], ["b", "a"]]
    assert ab.schedule(["tree"], 2) == [["tree"], ["tree"]]


KEY = "spark.sql.files.maxRecordsPerFile"


def _two_entries(monkeypatch):
    """Patch the catalog to two entries over ``spark.range``: ``ok``
    records the conf value it ran under, ``boom`` raises."""
    import stream2segment_spark.queries_catalog as catalog
    seen = []

    def ok(s, sf_dir):
        seen.append(s.conf.get(KEY))
        return s.range(10)

    def boom(s, sf_dir):
        raise RuntimeError("entry failed")

    monkeypatch.setattr(catalog, "queries", lambda: {"ok": ok, "boom": boom})
    return seen


@pytest.mark.parametrize("before", ["7", None])
def test_ab_restores_conf_when_an_entry_raises(spark, monkeypatch, capsys,
                                               before):
    ab = _tool("ab")
    monkeypatch.setattr(ab, "control_run", lambda spark, n_runs: 0.0)
    seen = _two_entries(monkeypatch)
    if before is None:
        spark.conf.unset(KEY)
    else:
        spark.conf.set(KEY, before)
    try:
        results = ab.run(spark, ["ok"], "", 1, 2, KEY, ("1", "2"))
        assert seen == ["1", "2", "2", "1"]
        assert {arm: len(t) for arm, t in results["ok"].items()} == {
            "1": 2, "2": 2}
        assert spark.conf.get(KEY, None) == before
        with pytest.raises(RuntimeError, match="entry failed"):
            ab.run(spark, ["ok", "boom"], "", 1, 2, KEY, ("1", "2"))
        assert seen[-1] == "1"
        assert spark.conf.get(KEY, None) == before
    finally:
        spark.conf.unset(KEY)
