import os

import pandas as pd
import pytest

import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in (22, 30, 42, 100, 1000):
        p = run.tail_percentile(n)
        vals = list(range(n))

        def beyond(pct):
            return sum(v > run.nearest_rank(vals, pct) for v in vals)

        assert beyond(p) >= 10 and beyond(p + 1) < 10
    assert run.tail_percentile(12) is None
    assert run.tail_percentile(20) is None


def test_pass_seconds_sums_each_requests_median():
    lat = {"a": [1.0, 9.0, 2.0], "b": [0.5, 0.25, 4.0]}
    assert run.pass_seconds(lat) == 2.0 + 0.5


def test_nearest_rank():
    vals = [1.0, 2.0, 3.0, 4.0]
    assert run.nearest_rank(vals, 50) == 2.0
    assert run.nearest_rank(vals, 100) == 4.0
    assert run.nearest_rank(vals, 1) == 1.0


@pytest.fixture(scope="module")
def oracle_util():
    return run.workloads.load_module("oracle_util",
                           os.path.join(ROOT, "tests", "oracle_util.py"))


def test_round_floats_absorbs_summation_order(oracle_util):
    a = pd.DataFrame({"x": [2837290795.5999851], "k": [1]})
    b = pd.DataFrame({"x": [2837290795.5999861], "k": [1]})
    assert oracle_util.normalize(a) != oracle_util.normalize(b)
    assert oracle_util.normalize(run.round_floats(a)) == \
        oracle_util.normalize(run.round_floats(b))
    assert run.round_floats(a)["k"].dtype == a["k"].dtype


def test_every_workload_query_has_an_oracle():
    import sys

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    for w in run.workloads.WORKLOADS.values():
        assert set(w.queries) <= set(sqls), w.name


def test_cli_fails_without_the_engine(tmp_path):
    """Run from a directory holding only the benchmark, the runner must
    fail fast and print no result."""
    import shutil
    import subprocess
    import sys

    bench_dir = os.path.join(ROOT, "perfbench")
    shutil.copytree(bench_dir, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_build", "_out", "data",
                                                  "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         "extras_sf0.01", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
