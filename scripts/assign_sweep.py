"""Cell-assignment cost sweep over k (r7 verdict #2 / r8 verdict #1
evidence).

Measures wall-clock and plan size for assign_cells' two strategies
(literal, numpy) at k in {64, 1024, 8192} on the sf embeddings table,
materialized with the noop sink.  Shows that the numpy (broadcast-matrix mapInPandas) path's
PLAN stays flat in k and its per-row cost grows only with the BLAS
matmul (k*dim FLOPs), while the literal path's plan grows ~linearly in
k*dim and its interpreted fold cost explodes — i.e. why auto routes
to literal only up to ``similarity._LITERAL_MAX_K`` cells and
SemDeDup's "raise k until a cell fits a task" rule is now viable to
the paper's ~110k cells.  The committed ASSIGN_SWEEP_r07/r08.json also
carry a third lane ("join"), since removed: it lost to numpy at every
k.

With a LARGE_CORPUS dir (second positional arg), additionally runs the
k=110k operating-point proof on it (r8): numpy assignment at
k in {8192, 110592} (recording the broadcast model size), the
vectorized kmeans_spread_seeds wall-time at k=10^4, and one SemDeDup
pass at the k-proportional-to-n sizing rule (~100 rows/cell).

Usage: python scripts/assign_sweep.py [out.json] [large_corpus_dir]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main():
    import numpy as np
    from pyspark.sql import SparkSession

    from pydiverse_transform_spark.extras import similarity as sim

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("assign-sweep")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .select("vec_id", "embedding")
    n_rows = emb.count()
    rng = np.random.default_rng(7)

    def run(df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    results = []
    for k in (64, 1024, 8192):
        cents = rng.random((k, 64)).tolist()
        row = {"k": k, "n_rows": n_rows}
        for method in ("literal", "numpy"):
            if method == "literal" and k > 1024:
                row[method] = None  # interpreted fold + plan literal:
                continue            # the exact ceiling being retired
            df = sim.assign_cells(emb, cents, method=method)
            plan_chars = len(df._jdf.queryExecution()
                             .optimizedPlan().toString())
            times = [run(df) for _ in range(2)]
            row[method] = {
                "sec": min(times),
                "us_per_row": round(min(times) / n_rows * 1e6, 2),
                "plan_chars": plan_chars,
            }
        results.append(row)
        print(json.dumps(row))

    out = {"sf_dir": SF_DIR, "cpus": int(CPUS), "sweep": results}

    corpus = sys.argv[2] if len(sys.argv) > 2 else None
    if corpus:
        out["large_corpus"] = _large_corpus_proof(spark, sim, np, run,
                                                  corpus)
        print(json.dumps(out["large_corpus"]))
    spark.stop()
    path = sys.argv[1] if len(sys.argv) > 1 else None
    if path:
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps(out))


def _large_corpus_proof(spark, sim, np, run, corpus):
    """The k=110k operating point, end-to-end on a ~1M-vector corpus:
    (a) numpy assignment stays ~flat in us/row from k=8192 to k=110592
    while the broadcast model grows to k*dim*8 B, (b) the vectorized
    farthest-first seeding at k=10^4 completes in seconds, (c) a full
    SemDeDup pass at the k ∝ n sizing rule (~100 rows/cell) runs."""
    import time

    emb = spark.read.parquet(f"{corpus}/embeddings.parquet") \
        .select("vec_id", "embedding")
    n_rows = emb.count()
    dim = len(emb.first()["embedding"])
    rng = np.random.default_rng(7)
    res = {"corpus": corpus, "n_rows": n_rows, "dim": dim, "assign": []}

    for k in (8192, 110_592):
        cents = rng.random((k, dim)).tolist()
        df = sim.assign_cells(emb, cents, method="numpy")
        sec = run(df)
        res["assign"].append({
            "k": k,
            "sec": sec,
            "us_per_row": round(sec / n_rows * 1e6, 3),
            "broadcast_mb": round(k * dim * 8 / (1 << 20), 1),
            "plan_chars": len(df._jdf.queryExecution()
                              .optimizedPlan().toString()),
        })
        print(json.dumps(res["assign"][-1]))

    k_seed = 10_000
    t0 = time.perf_counter()
    seeds_flat = sim.kmeans_spread_seeds(emb, k_seed,
                                         hierarchical=False)
    flat_sec = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    seeds = sim.kmeans_spread_seeds(emb, k_seed)   # auto -> hierarchical
    res["spread_seeds"] = {
        "k": k_seed,
        "oversample": 8,
        "flat_sec": flat_sec,
        "hier_sec": round(time.perf_counter() - t0, 2),
        "n_seeds": len(seeds),
        "n_flat_seeds": len(seeds_flat),
    }
    print(json.dumps(res["spread_seeds"]))

    # the paper-scale operating point the flat sweep cannot reach
    # (O(k*L) matvecs ~ 20 min at k=110k): hierarchical only
    t0 = time.perf_counter()
    seeds_big = sim.kmeans_spread_seeds(emb, 110_592)
    res["spread_seeds_110k"] = {
        "k": 110_592,
        "oversample": 8,
        "hier_sec": round(time.perf_counter() - t0, 2),
        "n_seeds": len(seeds_big),
    }
    print(json.dumps(res["spread_seeds_110k"]))

    # SemDeDup at the sizing rule: k = n / 100 (SCALE.md) — cells stay
    # ~100 rows, within-cell pair work stays constant as n grows
    k_sd = max(64, n_rows // 100)
    t0 = time.perf_counter()
    kept = sim.semdedup(emb, seeds[:k_sd] if k_sd <= len(seeds)
                        else rng.random((k_sd, dim)).tolist(),
                        threshold=0.2).count()
    res["semdedup_k_prop_n"] = {
        "k": k_sd,
        "threshold": 0.2,
        "sec": round(time.perf_counter() - t0, 2),
        "kept": kept,
        "removed": n_rows - kept,
    }
    print(json.dumps(res["semdedup_k_prop_n"]))
    return res


if __name__ == "__main__":
    main()
