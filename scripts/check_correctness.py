"""Local mirror of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB
at sf0.01, compare row count + columns + normalized values.

Usage: python scripts/check_correctness.py [--json OUT.json] [query_name ...]

``--json`` additionally writes a driver-shaped artifact (one row per
query with ok/detail + the session's ANSI mode) — used to commit the
ANSI-off evidence run (ANSI_OFF_r06.json).  A malformed command line
(an unknown flag or query name, ``--json`` without a path) exits 2 with
a usage line before Spark starts.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tests"),
)

import __spark_entry__ as entry_mod  # noqa: E402
from oracle_util import compare, duckdb_con  # noqa: E402
from tests.conftest import make_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
USAGE = "check_correctness.py [--json OUT.json] [query_name ...]"


def _usage(msg: str) -> None:
    print(f"usage: {USAGE}\n{msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(args: list[str], known) -> tuple[str | None, set[str]]:
    """(json path or None, query names to run; empty = all)."""
    json_out, names = None, []
    it = iter(args)
    for a in it:
        if a == "--json":
            json_out = next(it, None)
            if json_out is None or json_out.startswith("-"):
                _usage("--json needs an output path")
        elif a.startswith("-"):
            _usage(f"unknown flag: {a}")
        else:
            names.append(a)
    unknown = [n for n in names if n not in known]
    if unknown:
        _usage(f"unknown queries: {' '.join(unknown)}")
    return json_out, set(names)


def main():
    json_out, only = parse_args(sys.argv[1:], entry_mod.queries())
    spark = make_spark("check-correctness")
    # SPARK_GRAFT_ANSI=false mirrors tests/conftest.py: prove the whole
    # registry is spark.sql.ansi.enabled-independent (unset = Spark 4
    # default, true)
    ansi = os.environ.get("SPARK_GRAFT_ANSI")
    if ansi is not None:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    con = duckdb_con(SF_DIR)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_ok = n_fail = 0
    rows = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            if name not in oracles:
                cnt = df.count()
                print(f"  {name}: rows-only check, {cnt} rows "
                      f"({time.time() - t0:.1f}s)")
                n_ok += 1
                rows[name] = {"ok": True, "mode": "rows_only",
                              "n_rows": cnt,
                              "sec": round(time.time() - t0, 1)}
                continue
            ok, msg = compare(df, con, oracles[name], name)
        except Exception as e:
            ok, msg = False, f"{name}: EXCEPTION {type(e).__name__}: {e}"
        rows[name] = {"ok": bool(ok), "detail": msg,
                      "sec": round(time.time() - t0, 1)}
        if ok:
            n_ok += 1
            print(f"  {msg} ({time.time() - t0:.1f}s)")
        else:
            n_fail += 1
            print(f"FAIL {msg} ({time.time() - t0:.1f}s)")
    print(f"\n{n_ok} ok, {n_fail} failed")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({
                "sf_dir": SF_DIR,
                "ansi_enabled": spark.conf.get("spark.sql.ansi.enabled"),
                "n_ok": n_ok, "n_fail": n_fail,
                "queries": rows,
            }, f, indent=1)
        print(f"wrote {json_out}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
