"""tools/bench_protocol.py keeps failed runs as records instead of aborting:
a non-zero exit, an empty stdout or an unparseable last line becomes an
``error`` with the run's stderr, and a good line parses as before."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

_PATH = Path(__file__).resolve().parents[1] / "tools" / "bench_protocol.py"


@pytest.fixture(scope="module")
def protocol():
    spec = importlib.util.spec_from_file_location("bench_protocol", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run(protocol, src: str) -> dict:
    return protocol.run_bench([sys.executable, "-c", src])


def test_good_run_parses_last_line(protocol):
    rec = _run(protocol, "print('noise'); print('{\"value\": 12.5, \"unit\": \"s\"}')")
    assert "error" not in rec
    assert rec["returncode"] == 0
    assert rec["total_s"] == 12.5 and rec["bench"]["unit"] == "s"


@pytest.mark.parametrize(
    "src, needle",
    [
        ("import sys; sys.stderr.write('boom'); sys.exit(3)", "exited with 3"),
        ("import sys; sys.stderr.write('boom')", "nothing on stdout"),
        ("import sys; sys.stderr.write('boom'); print('not json')", "unparseable"),
        ("import sys; sys.stderr.write('boom'); print('[1, 2]')", "unparseable"),
    ],
    ids=["exit-code", "empty-stdout", "not-json", "no-value"],
)
def test_failed_run_is_recorded_with_stderr(protocol, src, needle):
    rec = _run(protocol, src)
    assert needle in rec["error"]
    assert rec["stderr"] == "boom"
    assert "total_s" not in rec
