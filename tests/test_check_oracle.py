"""Forensics contract of tools/check_oracle.py (round-5 verdict ask #2):
a FAIL must persist its *reason* to the failure log, and --retry-failed must
label each failure 'transient (passed on retry)' vs 'reproducible'.

These tests force failures through a stub __spark_entry__ module -- no Spark
session is started (the stub queries never touch the `spark` argument), only
a real DuckDB connection over the sf0.001 parquet runs the oracle side.
"""

from __future__ import annotations

import importlib
import sys
import types
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

check_oracle = importlib.import_module("check_oracle")

SF_DIR = "/root/testdata/sf0.001"


class _FakeRow:
    def __init__(self, d):
        self._d = d

    def asDict(self):
        return dict(self._d)


class _FakeDF:
    def __init__(self, rows, columns):
        self._rows = [_FakeRow(r) for r in rows]
        self.columns = list(columns)

    def collect(self):
        return self._rows


def _entry_stub(queries, oracles):
    mod = types.ModuleType("__spark_entry__")
    mod.queries = lambda: queries
    mod.oracle_sql = lambda: oracles
    return mod


def _run_main(monkeypatch, tmp_path, queries, oracles, argv):
    monkeypatch.setitem(sys.modules, "__spark_entry__", _entry_stub(queries, oracles))
    import mariadb_to_graylog_spark.session as session_mod

    monkeypatch.setattr(session_mod, "get_spark", lambda **kw: object())
    log = tmp_path / "failures.log"
    monkeypatch.setenv("CHECK_ORACLE_FAILLOG", str(log))
    monkeypatch.setattr(
        sys, "argv", ["check_oracle.py", "--sf-dir", SF_DIR, *argv]
    )
    rc = check_oracle.main()
    return rc, log


def test_pass_writes_no_log(monkeypatch, tmp_path, capsys):
    queries = {"ok": lambda spark, sf: _FakeDF([{"x": 1}], ["x"])}
    oracles = {"ok": "SELECT 1 AS x"}
    rc, log = _run_main(monkeypatch, tmp_path, queries, oracles, ["ok"])
    assert rc == 0
    assert not log.exists()
    assert "PASS ok" in capsys.readouterr().out


def test_transient_failure_labeled_and_logged(monkeypatch, tmp_path, capsys):
    calls = {"n": 0}

    def flaky(spark, sf):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("executor lost (simulated)")
        return _FakeDF([{"x": 1}], ["x"])

    rc, log = _run_main(
        monkeypatch,
        tmp_path,
        {"flaky": flaky},
        {"flaky": "SELECT 1 AS x"},
        ["--retry-failed", "flaky"],
    )
    out = capsys.readouterr().out
    # still non-zero: the gate reports honestly, callers decide
    assert rc == 1
    assert "FAIL flaky: spark error: RuntimeError" in out
    assert "RETRY flaky: transient (passed on retry)" in out
    text = log.read_text()
    assert "flaky\ttransient (passed on retry)\tspark error: RuntimeError" in text
    assert "=== run " in text  # run header with id


def test_reproducible_mismatch_labeled_and_logged(monkeypatch, tmp_path, capsys):
    queries = {"wrong": lambda spark, sf: _FakeDF([{"x": 2}], ["x"])}
    oracles = {"wrong": "SELECT 1 AS x"}
    rc, log = _run_main(
        monkeypatch, tmp_path, queries, oracles, ["--retry-failed", "wrong"]
    )
    out = capsys.readouterr().out
    assert rc == 1
    assert "FAIL wrong: value mismatch" in out
    assert "RETRY wrong: reproducible: value mismatch" in out
    text = log.read_text()
    assert "wrong\treproducible: value mismatch" in text


def test_no_retry_flag_labels_not_retried(monkeypatch, tmp_path):
    queries = {"wrong": lambda spark, sf: _FakeDF([{"x": 2}], ["x"])}
    oracles = {"wrong": "SELECT 1 AS x"}
    rc, log = _run_main(monkeypatch, tmp_path, queries, oracles, ["wrong"])
    assert rc == 1
    assert "wrong\tnot retried\tvalue mismatch" in log.read_text()


def test_default_log_path_is_repo_local(monkeypatch):
    monkeypatch.delenv("CHECK_ORACLE_FAILLOG", raising=False)
    p = check_oracle._failure_log_path()
    assert not str(p).startswith("/tmp/")
    assert p.parent == Path(check_oracle.__file__).resolve().parent.parent


def test_row_count_mismatch_reason(monkeypatch, tmp_path, capsys):
    queries = {"rows": lambda spark, sf: _FakeDF([{"x": 1}, {"x": 2}], ["x"])}
    oracles = {"rows": "SELECT 1 AS x"}
    rc, log = _run_main(monkeypatch, tmp_path, queries, oracles, ["rows"])
    assert rc == 1
    assert "rows 2 != 1" in log.read_text()


# sha256 of repr(sorted(oracle_sql().items())): every DuckDB twin the
# driver checks against, byte for byte.  A deliberate oracle change must
# update this digest in the same commit.
ORACLE_SQL_SHA256 = "98fd07bd8e40cdcef38367c48eb3f2f82494391ffa1efbfff0ed767045d686bb"


def test_driver_contract_pinned():
    import hashlib

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    digest = hashlib.sha256(repr(sorted(oracles.items())).encode()).hexdigest()
    assert digest == ORACLE_SQL_SHA256
    assert set(entry.queries()) == set(oracles)
    assert len(oracles) == 114
