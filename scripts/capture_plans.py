"""Capture .explain('formatted') for bench queries into
plans/<round>/<query>_<suffix>.txt.

Usage: python scripts/capture_plans.py <round> <suffix> [query ...]

<round> names the directory under plans/ (e.g. r15), <suffix> tags each
file (e.g. before/after); with no queries, every bench query.  A
malformed command line exits 2 with a usage line before Spark starts.
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
USAGE = "capture_plans.py <round> <suffix> [query ...]"
NAME = re.compile(r"[A-Za-z0-9_][A-Za-z0-9_.-]*")


def _usage(msg: str) -> None:
    print(f"usage: {USAGE}\n{msg}", file=sys.stderr)
    sys.exit(2)


def main():
    args = sys.argv[1:]
    if len(args) < 2:
        _usage("need a round and a suffix")
    rnd, suffix, names = args[0], args[1], args[2:]
    for a in (rnd, suffix):
        if not NAME.fullmatch(a):
            _usage(f"not a plain name: {a!r}")

    import __spark_entry__ as entry_mod
    from bench import BENCH_QUERIES

    qs = entry_mod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        _usage(f"unknown queries: {' '.join(unknown)}")
    names = names or BENCH_QUERIES

    from pyspark.sql import SparkSession

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(here, "plans", rnd)
    os.makedirs(outdir, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("pdt-plans")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.warehouse.dir",
                os.path.join(here, ".tmp_stream", "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(name, "->", f"{name}_{suffix}.txt", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
