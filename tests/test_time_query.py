"""tools/time_query.py argument handling: bad command lines print the
usage line and exit 2 before any Spark session starts."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "argv",
    [
        ["q1_pricing_summary", "--runs"],
        ["--sf"],
        ["--runs", "many", "q1_pricing_summary"],
        ["no_such_query"],
        [],
    ],
)
def test_bad_arguments_print_usage_and_exit_2(argv):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "time_query.py"), *argv],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=120,
    )
    assert proc.returncode == 2, proc.stderr
    assert proc.stdout.startswith("usage: time_query.py")
    assert "Traceback" not in proc.stderr


def test_parse_args_reads_flags_and_names():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import time_query
    finally:
        sys.path.pop(0)
    assert time_query.parse_args(
        ["--runs", "5", "--sf", "/data/sf1", "q1_pricing_summary"]
    ) == (5, "/data/sf1", ["q1_pricing_summary"])
