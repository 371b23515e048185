import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import workloads


def write(path, n):
    pq.write_table(pa.table({"k": list(range(n))}), path)


@pytest.fixture
def src(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    write(d / "lineitem.parquet", 6)
    write(d / "nation.parquet", 2)
    return str(d)


def fake_generator(calls, scale_ok=True):
    """Writes each table as a directory of part files, like Spark."""
    def generate(src, out, factor):
        calls.append(factor)
        for t, n in workloads.expected_replica_rows(src, factor).items():
            os.makedirs(f"{out}/{t}.parquet", exist_ok=True)
            write(f"{out}/{t}.parquet/part-0.parquet",
                  n if scale_ok else n + 1)
    return generate


def test_expected_rows_scale_only_fact_tables(src):
    assert workloads.expected_replica_rows(src, 3) == {
        "lineitem": 18, "nation": 2}


def test_replica_is_generated_then_reused(src, tmp_path):
    out, calls = str(tmp_path / "rep"), []
    assert workloads.ensure_replica(src, out, 3, fake_generator(calls))
    assert not workloads.ensure_replica(src, out, 3, fake_generator(calls))
    assert calls == [3]
    assert workloads.row_count(f"{out}/lineitem.parquet") == 18


def test_replica_with_wrong_counts_is_regenerated(src, tmp_path):
    out, calls = str(tmp_path / "rep"), []
    workloads.ensure_replica(src, out, 3, fake_generator(calls))
    write(f"{out}/lineitem.parquet/part-1.parquet", 4)  # stray extra part
    assert workloads.ensure_replica(src, out, 3, fake_generator(calls))
    assert calls == [3, 3]
    assert workloads.row_count(f"{out}/lineitem.parquet") == 18


def test_replica_with_missing_table_is_regenerated(src, tmp_path):
    out, calls = str(tmp_path / "rep"), []
    workloads.ensure_replica(src, out, 2, fake_generator(calls))
    os.remove(f"{out}/nation.parquet/part-0.parquet")
    os.rmdir(f"{out}/nation.parquet")
    assert workloads.ensure_replica(src, out, 2, fake_generator(calls))
    assert calls == [2, 2]


def test_bad_generator_is_an_error(src, tmp_path):
    with pytest.raises(RuntimeError):
        workloads.ensure_replica(src, str(tmp_path / "rep"), 2,
                                 fake_generator([], scale_ok=False))


def test_pass_count_is_fixed_by_run_length():
    w = workloads.WORKLOADS["relational_sf0.1"]
    assert w.passes(1) == 2
    assert w.passes(w.nominal_pass_s * 3) == 3
    assert w.passes(w.nominal_pass_s * 3 + 1) == 4


def test_committed_data_has_every_oracle_table():
    names = {f[:-len(".parquet")] for f in os.listdir(workloads.SRC_DIR)}
    assert {"lineitem", "orders", "customer", "supplier", "part", "region",
            "nation", "events", "documents", "embeddings"} <= names
