"""The benchmark's workloads and the data they read.

Each workload is a fixed list of registry queries from
``__spark_entry__.queries()``, sent by one closed-loop client, chosen so
that a different layer does most of the work:

- ``relational_sf0.1``: TPC-H-shaped DSL queries over a 10x replica of
  the committed sf0.01 tables (sf0.1 row counts, four files per table).
  Their small results are pulled to the driver through ``pdt.export``,
  rotating the Arrow, Pandas and ListOfRows targets.  Spark execution is
  the largest share; DSL build, planning and export are the rest.
- ``extras_sf0.01``: the ``extras`` operators with eager side jobs
  (probes, persists, index writes inside the builder call), written to
  a ``noop`` sink.  The builder call is the largest share.

The committed data is the project's fixed sf0.01 test set.  The
relational replica is generated from it once per checkout with the
project's own ``scripts/gen_scale_corpus.py`` and reused after its row
counts are checked.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
SRC_DIR = os.path.join(HERE, "data", "sf0.01")
BUILD_DIR = os.path.join(HERE, "_build")
REPLICA_FACTOR = 10


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # "noop": write every result to Spark's noop sink;
    # "export": pull every result to the driver through pdt.export
    sink: str
    # about the seconds of one warm pass on a 4-core host (Spark on 2 of
    # its cores); fixes how many passes a run of a given length makes, so
    # every run of a workload has the same sample count
    nominal_pass_s: int
    replica: bool = False
    # untimed passes through the timed code path after the cold pass
    warm_passes: int = 1

    def passes(self, seconds: float) -> int:
        return max(2, -(-int(seconds) // self.nominal_pass_s))


WORKLOADS = {w.name: w for w in (
    Workload(
        "relational_sf0.1",
        ("q01_pricing_summary", "q03_shipping_priority",
         "q05_local_supplier", "q18_large_volume", "q21_waiting_supplier"),
        sink="export", nominal_pass_s=5, replica=True),
    Workload(
        "extras_sf0.01",
        ("q_semdedup", "q_semdedup_kprop", "q_minhash_index_lookup"),
        # after one warm pass, timed passes still got faster, most runs
        # falling 10-30% from the first timed pass to the fourth
        sink="noop", nominal_pass_s=5, warm_passes=2),
)}

# tables the replica multiplies; every other table is copied as is
SCALED_TABLES = ("lineitem", "orders", "customer", "supplier", "part")


def row_count(path: str) -> int:
    """Rows in a parquet file or a directory of part files, read from
    the footers only."""
    import pyarrow.parquet as pq

    files = (sorted(glob.glob(os.path.join(path, "*.parquet")))
             if os.path.isdir(path) else [path])
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def expected_replica_rows(src: str, factor: int) -> dict[str, int]:
    tables = sorted(os.path.basename(p)[:-len(".parquet")]
                    for p in glob.glob(f"{src}/*.parquet"))
    return {t: row_count(f"{src}/{t}.parquet")
            * (factor if t in SCALED_TABLES else 1) for t in tables}


def replica_ok(out: str, expected: dict[str, int]) -> bool:
    for t, n in expected.items():
        p = f"{out}/{t}.parquet"
        if not os.path.exists(p):
            return False
        try:
            if row_count(p) != n:
                return False
        except OSError:
            return False
    return True


def ensure_replica(src: str, out: str, factor: int,
                   generate: Callable[[str, str, int], None]) -> bool:
    """Make ``out`` hold a ``factor``-fold replica of the tables in
    ``src``: ``SCALED_TABLES`` multiplied, the rest copied.  An existing
    replica is reused only when every table has the expected row count;
    otherwise it is generated again.  Returns whether it was
    (re)generated."""
    expected = expected_replica_rows(src, factor)
    if replica_ok(out, expected):
        return False
    shutil.rmtree(out, ignore_errors=True)
    generate(src, out, factor)
    if not replica_ok(out, expected):
        raise RuntimeError(f"replica at {out} has wrong row counts "
                           "after generation")
    return True


def load_module(name: str, path: str):
    """Import one of the project's scripts or tools by file path."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def spark_replica_generator(spark, root: str, cores: int):
    """Generator for ``ensure_replica`` that runs the project's
    ``scripts/gen_scale_corpus.py`` TPC-H replication in ``spark``."""
    from pyspark.sql import functions as F

    mod = load_module("gen_scale_corpus",
                      os.path.join(root, "scripts", "gen_scale_corpus.py"))
    mod.CPUS = str(cores)

    def generate(src: str, out: str, factor: int) -> None:
        os.makedirs(out, exist_ok=True)
        mod._gen_tpch(spark, F, src, out, factor)
        # the oracle opens every table of a data directory
        for p in glob.glob(f"{src}/*.parquet"):
            dst = os.path.join(out, os.path.basename(p))
            if not os.path.exists(dst):
                shutil.copyfile(p, dst)

    return generate


def data_dir(workload: Workload, spark, root: str,
             cores: int) -> tuple[str, bool]:
    """Directory the workload's queries read, generated if needed, and
    whether ``spark`` just generated it."""
    if not workload.replica:
        return SRC_DIR, False
    out = os.path.join(BUILD_DIR, f"tpch_x{REPLICA_FACTOR}")
    generated = ensure_replica(SRC_DIR, out, REPLICA_FACTOR,
                               spark_replica_generator(spark, root, cores))
    return out, generated
