"""bench.py's helpers. Its measurement subprocesses (the flops row and
the perfbench scaling row): a failing script run must give an empty row
plus an error note, never an exception that would stop bench.py before
it prints its one JSON line. And the spread warning over timed
attempts."""

import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

import bench


def _hang(*_a, **_k):
    raise subprocess.TimeoutExpired(cmd="flops_bench.py", timeout=900)


def _no_exec(*_a, **_k):
    raise OSError("exec format error")


def _prints(stdout):
    return lambda *_a, **_k: SimpleNamespace(stdout=stdout)


FAILURES = pytest.mark.parametrize(
    "run, note",
    [(_hang, "TimeoutExpired"), (_no_exec, "OSError"),
     (_prints('progress\n{"det_gmacs": 2.0, '), "JSONDecodeError")],
    ids=["timeout", "oserror", "truncated-line"],
)


@FAILURES
def test_flops_failure_gives_empty_row_and_note(monkeypatch, run, note):
    monkeypatch.setattr(bench.subprocess, "run", run)
    row, err = bench._flops_bound()
    assert row == {} and err.startswith(note)


def test_flops_last_json_line_wins(monkeypatch):
    monkeypatch.setattr(
        bench.subprocess, "run", _prints('{"a": 1}\nnoise\n{"a": 2}\n')
    )
    assert bench._flops_bound() == ({"a": 2}, None)


@FAILURES
def test_tool_row_failure_gives_empty_row_and_note(monkeypatch, run, note):
    monkeypatch.setattr(bench.subprocess, "run", run)
    row, err = bench._tool_row("perfbench/run.py", "--seed", 1, timeout=1)
    assert row == {} and err.startswith(note)


def test_tool_row_without_json_line_gives_note(monkeypatch):
    monkeypatch.setattr(
        bench.subprocess, "run",
        lambda *_a, **_k: SimpleNamespace(
            stdout="progress\n", stderr="MemoryError", returncode=1
        ),
    )
    row, err = bench._tool_row("perfbench/run.py", "--trace", 1, timeout=1)
    assert row == {} and err == "no JSON line (rc=1): MemoryError"


def test_tool_row_last_json_line_wins_and_passes_args_and_env(monkeypatch):
    seen = {}

    def run(cmd, **kwargs):
        seen.update(cmd=cmd, env=kwargs["env"], timeout=kwargs["timeout"])
        return SimpleNamespace(stdout='{"a": 1}\nnoise\n{"a": 2}\n')

    monkeypatch.setattr(bench.subprocess, "run", run)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/sf")
    row = bench._tool_row(
        "perfbench/run.py", "--workload", "all", "--seed", 1, timeout=7,
    )
    assert row == ({"a": 2}, None)
    assert seen["cmd"] == [
        sys.executable, os.path.join(bench.REPO, "perfbench", "run.py"),
        "--workload", "all", "--seed", "1",
    ]
    assert seen["timeout"] == 7
    assert seen["env"]["PYTHONPATH"] == bench.REPO
    assert seen["env"]["SPARK_GRAFT_SF_DIR"] == "/sf"


@pytest.mark.parametrize(
    "attempts, flagged",
    [([1.0, 1.6], True), ([1.0, 1.4], False), ([1.0], False)],
    ids=["apart", "close", "single"],
)
def test_spread_warnings_flag_attempts_over_1_5x(attempts, flagged):
    assert bench._spread_warnings({"q": attempts}) == (["q"] if flagged else [])
