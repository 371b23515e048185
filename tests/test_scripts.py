"""Command-line contracts of the measurement scripts (no Spark)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

SPOT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts", "bench_sf_spot.py")


@pytest.mark.parametrize("args", [
    ["--inner"], ["--inner", "/no/such/sf"], ["--inner", "/x", "4", "5"],
    ["--inner", "/x", "four"], ["out.json", "extra"], ["--bogus"],
])
def test_bench_sf_spot_rejects_bad_argv(args):
    """A malformed command line is a usage error (exit 2), never a
    traceback and never a run with a flag taken as the output path."""
    proc = subprocess.run([sys.executable, SPOT, *args],
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 2
    assert proc.stderr.startswith("usage: ")
    assert "Traceback" not in proc.stderr


PLANS = os.path.join(os.path.dirname(SPOT), "capture_plans.py")


@pytest.mark.parametrize("args", [
    [], ["r15"], ["--bogus", "before"], ["r15", "--bogus"],
    ["../r15", "before"], ["r15", "before", "q_no_such_query"],
])
def test_capture_plans_rejects_bad_argv(args):
    """Same contract as bench_sf_spot.py: exit 2 with a usage line, no
    traceback, and no Spark session started (no JVM log output)."""
    proc = subprocess.run([sys.executable, PLANS, *args],
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 2
    assert proc.stderr.startswith("usage: ")
    assert "Traceback" not in proc.stderr
    assert "Spark" not in proc.stderr + proc.stdout


CORRECTNESS = os.path.join(os.path.dirname(SPOT), "check_correctness.py")


@pytest.mark.parametrize("args", [
    ["q_no_such_query"], ["q01_pricing_summary", "q_no_such_query"],
    ["--json"], ["q01_pricing_summary", "--json"],
    ["--json", "--bogus"], ["--bogus"],
])
def test_check_correctness_rejects_bad_argv(args):
    """A typo'd query name must not pass the gate as "0 ok, 0 failed",
    and a trailing --json must not raise IndexError: exit 2 with a
    usage line before Spark starts."""
    proc = subprocess.run([sys.executable, CORRECTNESS, *args],
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 2
    assert proc.stderr.startswith("usage: ")
    assert "Traceback" not in proc.stderr
    assert "Spark" not in proc.stderr + proc.stdout
