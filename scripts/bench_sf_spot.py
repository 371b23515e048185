"""Scaling spot-bench (r15, VERDICT r14 next #6): time the heavy
LLM-pipeline queries at sf0.1 AND the 10x sf1 corpus
(scripts/gen_scale_corpus.py), each at 32 and 8 cores, and report

- the per-query sf0.1 -> sf1 slope at each core count (a slope well
  under 10 means the extra decade rides partly on the fixed
  scheduler/plan floor; near-linear slopes mean data-bound), and
- the per-query 8-core/32-core wall ratio at each SF.  At sf0.1 every
  bench query is floor-bound (r14 scaling block: ratios 0.56-1.38,
  8 cores FASTER in total); the claim this artifact exists to prove is
  that the SAME queries move off the floor with one decade more data —
  core_ratio(sf1) >= 2 on the shuffle-heavy ones.

Queries are the bench subset reading only documents/embeddings/events
(the tables gen_scale_corpus scales); TPC-H rows are not generated at
sf1 and their queries are excluded.  Methodology matches bench.py:
noop sink, min-of-3, local[$CPUS], shuffle.partitions=$CPUS — each
(sf, cpus) cell runs in its OWN subprocess/session because the master
cannot change inside one JVM.

Usage: python scripts/bench_sf_spot.py [out.json]   (run SOLO)
Env: SPOT_SFS=sf0.1,sf1,sf10  SPOT_QUERIES=q_a,q_b  override the grid.
Cells are separated by a cooldown so one cell's own load does not
read as contamination in the next cell's sentinel.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

QUERIES = [
    "q_semdedup",
    "q_semdedup_kprop",
    "q_dedup_minhash",
    "q_neardup_corpus",
    "q_substring_dedup",
    "q_nb_classifier",
    "q_lm_perplexity",
    "q_tfidf_topk",
    "q_minhash_index_lookup",
    "q_pretrain_pipeline_scored",
    "q_sessionize",
]
if os.environ.get("SPOT_QUERIES"):
    QUERIES = os.environ["SPOT_QUERIES"].split(",")

_SF_DIRS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(HERE, ".scratch", "sf1"),
    "sf10": os.path.join(HERE, ".scratch", "sf10"),
}
SFS = [(n, _SF_DIRS[n]) for n in
       os.environ.get("SPOT_SFS", "sf0.1,sf1").split(",")]
CORES = [32, 8]
COOLDOWN_SEC = 45.0


def _inner(sf_dir: str, cpus: int) -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from bench import _load_sentinel

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pdt-sf-spot")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.warehouse.dir",
                os.path.join(HERE, ".tmp_stream", "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    # warm JVM/codegen once
    qs[QUERIES[0]](spark, sf_dir).write.format("noop") \
        .mode("overwrite").save()
    sent = _load_sentinel()
    timings = {}
    for name in QUERIES:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(min(runs), 3)
    print("INNER_JSON " + json.dumps(
        {"sf_dir": sf_dir, "cpus": cpus, "timings": timings,
         "total": round(sum(timings.values()), 3),
         "sentinel": sent}), flush=True)
    spark.stop()


def _usage(msg: str) -> None:
    print(f"usage: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    args = sys.argv[1:]
    if args[:1] == ["--inner"]:
        if len(args) != 3 or not args[2].isdigit():
            _usage("bench_sf_spot.py --inner <sf_dir> <cpus>")
        _inner(args[1], int(args[2]))
        return
    if len(args) > 1 or (args and args[0].startswith("-")):
        _usage("bench_sf_spot.py [out.json]")
    out_path = args[0] if args else None
    cells = {}
    first = True
    for sf_name, sf_dir in SFS:
        for cpus in CORES:
            if not first:
                time.sleep(COOLDOWN_SEC)
            first = False
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--inner", sf_dir, str(cpus)]
            print(f"== {sf_name} cpus={cpus}", file=sys.stderr)
            proc = subprocess.run(cmd, capture_output=True, text=True)
            rec = None
            for line in proc.stdout.splitlines():
                if line.startswith("INNER_JSON "):
                    rec = json.loads(line[len("INNER_JSON "):])
            if rec is None:
                raise RuntimeError(
                    f"inner run failed ({sf_name}, {cpus}):\n"
                    + proc.stderr[-2000:])
            cells[f"{sf_name}_c{cpus}"] = rec

    def ratio(a, b):
        return {q: round(a["timings"][q] / b["timings"][q], 2)
                for q in QUERIES if b["timings"].get(q)}

    result = {"queries": QUERIES, "cells": cells}
    names = [n for n, _ in SFS]
    # data slope between consecutive SFs at each core count
    for lo, hi in zip(names, names[1:]):
        for c in CORES:
            a, b = cells.get(f"{hi}_c{c}"), cells.get(f"{lo}_c{c}")
            if a and b:
                result[f"slope_{hi}_over_{lo}_c{c}"] = ratio(a, b)
    # parallelism: 8-core / 32-core wall at each SF (>1 = more cores
    # help; ~4 would be ideal for a fully data-bound stage)
    for n in names:
        a, b = cells.get(f"{n}_c8"), cells.get(f"{n}_c32")
        if a and b:
            result[f"core_ratio_c8_over_c32_{n}"] = ratio(a, b)
    line = json.dumps(result)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
