"""bench.py's optional flops row: a failing tools/flops_bench.py run must
give an empty row plus an error note, never an exception that would
stop bench.py before it prints its one JSON line."""

import subprocess
from types import SimpleNamespace

import pytest

import bench


def _hang(*_a, **_k):
    raise subprocess.TimeoutExpired(cmd="flops_bench.py", timeout=900)


def _no_exec(*_a, **_k):
    raise OSError("exec format error")


def _prints(stdout):
    return lambda *_a, **_k: SimpleNamespace(stdout=stdout)


@pytest.mark.parametrize(
    "run, note",
    [(_hang, "TimeoutExpired"), (_no_exec, "OSError"),
     (_prints('progress\n{"det_gmacs": 2.0, '), "JSONDecodeError")],
    ids=["timeout", "oserror", "truncated-line"],
)
def test_flops_failure_gives_empty_row_and_note(monkeypatch, run, note):
    monkeypatch.setattr(bench.subprocess, "run", run)
    row, err = bench._flops_bound()
    assert row == {} and err.startswith(note)


def test_flops_last_json_line_wins(monkeypatch):
    monkeypatch.setattr(
        bench.subprocess, "run", _prints('{"a": 1}\nnoise\n{"a": 2}\n')
    )
    assert bench._flops_bound() == ({"a": 2}, None)
