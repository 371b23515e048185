"""Round-7 regression tests: scalable cell assignment (assign_cells),
DSIR fit/apply split, ivfpq_maintain crash-safe swap, ivfpq_topk_auto
safe-region defaults, and the r6 ADVICE fixes (connected_components
NULL/dtype handling, fan_out unknown-stats fallback, _hadoop_files
hidden-directory filtering)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pydiverse_transform_spark.extras import dedup as dd
from pydiverse_transform_spark.extras import importance as imp
from pydiverse_transform_spark.extras import similarity as sim

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp_test_r7")

QVEC = [((i * 37) % 101 - 50) / 50.0 for i in range(64)]


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# assign_cells: two physical strategies, one answer
# ---------------------------------------------------------------------------

def _cells(df, centroids, method, **kw):
    out = sim.assign_cells(df.select("vec_id", "embedding"), centroids,
                           method=method, **kw)
    return [(r["vec_id"], r["__cell"])
            for r in out.select("vec_id", "__cell")
            .orderBy("vec_id").collect()]


def test_assign_cells_paths_agree(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = sim.kmeans_spread_seeds(emb, 16)
    lit = _cells(emb, cents, "literal")
    npy = _cells(emb, cents, "numpy")
    assert lit == npy
    assert len({c for _, c in lit}) > 1  # not degenerate


def test_assign_cells_dataframe_centroids(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = sim.kmeans_spread_seeds(emb, 8)
    cdf = sim._centroids_as_df(spark, cents)
    assert _cells(emb, cents, "literal") == _cells(emb, cdf, "numpy")
    # non-contiguous cid labels survive the numpy path, break literal
    shifted = cdf.withColumn("cid", F.col("cid") * 10)
    lab = _cells(emb, shifted, "numpy")
    assert {c for _, c in lab} <= {i * 10 for i in range(8)}
    with pytest.raises(ValueError, match="contiguous"):
        sim.assign_cells(emb, shifted, method="literal")


def test_assign_cells_auto_dispatch_and_null_vec(spark):
    cents = [[0.0, 0.0], [10.0, 10.0]]
    df = spark.createDataFrame(
        [(1, [0.5, 0.2]), (2, [9.0, 9.5]), (3, None)],
        "vec_id int, embedding array<double>")
    out = sim.assign_cells(df, cents, method="numpy") \
        .orderBy("vec_id").collect()
    assert [r["__cell"] for r in out] == [0, 1, None]
    with pytest.raises(ValueError, match="auto|literal|numpy"):
        sim.assign_cells(df, cents, method="join")
    with pytest.raises(ValueError, match="auto"):
        sim.assign_cells(df, cents, method="bogus")


def test_assign_cells_numpy_plan_flat_in_k(spark, sf_dir):
    """The whole point of the scale path: the plan must NOT carry the
    centroids (no literal blowup — the r6 ceiling)."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    import numpy as np

    rng = np.random.default_rng(7)
    small = rng.random((8, 64)).tolist()
    big = rng.random((2048, 64)).tolist()
    p_small = sim.assign_cells(emb, small, method="numpy") \
        ._jdf.queryExecution().optimizedPlan().toString()
    p_big = sim.assign_cells(emb, big, method="numpy") \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert abs(len(p_big) - len(p_small)) < 200
    # while the literal path DOES grow (that is why it is capped)
    p_lit = sim.assign_cells(emb, small, method="literal") \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert len(p_lit) > len(p_small)


def test_semdedup_accepts_dataframe_centroids(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = sim.kmeans_spread_seeds(emb, 8)
    cdf = sim._centroids_as_df(spark, cents)
    a = sorted(
        tuple(r) for r in
        sim.semdedup_pairs(emb, cents, threshold=0.0).collect())
    b = sorted(
        tuple(r) for r in
        sim.semdedup_pairs(emb, cdf, threshold=0.0).collect())
    c = sorted(
        tuple(r) for r in
        sim.semdedup_pairs(emb, cdf, threshold=0.0,
                           assign_method="literal").collect())
    assert a == b == c and len(a) > 0
    kept_list = sorted(r["vec_id"] for r in
                       sim.semdedup(emb, cents, threshold=0.0)
                       .select("vec_id").collect())
    kept_df = sorted(r["vec_id"] for r in
                     sim.semdedup(emb, cdf, threshold=0.0)
                     .select("vec_id").collect())
    assert kept_list == kept_df


def test_assign_cells_multi_probe(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = sim.kmeans_spread_seeds(emb, 8)
    single = dict(_cells(emb, cents, "numpy"))
    multi = {
        r["vec_id"]: list(r["__cells"])
        for r in sim.assign_cells_multi(
            emb.select("vec_id", "embedding"), cents, n_probe=3)
        .collect()
    }
    assert set(multi) == set(single)
    for vid, cells in multi.items():
        assert len(cells) == 3 and len(set(cells)) == 3
        assert cells[0] == single[vid]  # nearest first
    with pytest.raises(ValueError, match="n_probe"):
        sim.assign_cells_multi(emb, cents, n_probe=0)
    with pytest.raises(ValueError, match="exceeds"):
        sim.assign_cells_multi(emb, cents, n_probe=9)


def test_semdedup_pairs_multiprobe_superset_no_dupes(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = sim.kmeans_spread_seeds(emb, 8)
    p1 = {(r["id_a"], r["id_b"])
          for r in sim.semdedup_pairs(emb, cents, threshold=0.0)
          .collect()}
    rows2 = sim.semdedup_pairs(emb, cents, threshold=0.0,
                               n_probe=2).collect()
    p2 = {(r["id_a"], r["id_b"]) for r in rows2}
    assert len(rows2) == len(p2), "multi-probe must not emit dup pairs"
    assert p1 <= p2 and len(p2) > len(p1)  # boundary pairs recovered


def test_kmeans_fit_assign_methods_agree(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    a = sim.kmeans_fit(emb, k=8, n_iter=3, dim=64,
                       assign_method="literal")
    b = sim.kmeans_fit(emb, k=8, n_iter=3, dim=64,
                       assign_method="numpy")
    assert len(a) == len(b) == 8
    for ca, cb in zip(a, b):
        assert ca == pytest.approx(cb, abs=1e-9)


def test_ivfpq_encode_assign_methods_agree(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = sim.hyperplanes(64, 8, seed="ivfpq")
    cbs = sim.pq_codebooks(64, m=8, k=16)
    for residual in (True, False):
        lit = sim.ivfpq_encode(emb, cents, cbs, residual=residual,
                               assign_method="literal") \
            .select("vec_id", "cell", "pq_code").orderBy("vec_id") \
            .collect()
        npy = sim.ivfpq_encode(emb, cents, cbs, residual=residual,
                               assign_method="numpy") \
            .select("vec_id", "cell", "pq_code").orderBy("vec_id") \
            .collect()
        assert [tuple(r) for r in lit] == [tuple(r) for r in npy]


def test_ivfpq_large_k_end_to_end(spark, sf_dir, tmp_path):
    """k=300 coarse cells (above the 256-cell literal cap): the whole
    index lifecycle — write (numpy assignment + broadcast residual),
    sidecar, query — must work without a plan literal, and the top-1
    of a member query must be the member itself."""
    emb = _emb(spark, sf_dir)
    import numpy as np

    rng = np.random.default_rng(11)
    cents = rng.random((300, 64)).tolist()
    cbs = sim.pq_codebooks(64, m=8, k=16)
    path = str(tmp_path / "bigk")
    sim.write_ivfpq(emb, path, cents, cbs, residual=True)
    member = emb.orderBy("vec_id").first()
    got = sim.ivfpq_topk_auto(
        spark, path, [float(v) for v in member["embedding"]], k=3,
        nprobe=2).collect()
    assert got[0]["vec_id"] == member["vec_id"]


# ---------------------------------------------------------------------------
# DSIR fit/apply split
# ---------------------------------------------------------------------------

def test_dsir_fit_score_split_matches_fused(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = imp.dsir_fit(docs, F.col("lang") == "en", n_buckets=512)
    assert model["format"] == "dsir/1"
    assert len(model["log_ratios"]) == 512
    import json

    json.dumps(model)  # the model contract: plain JSON
    split = imp.dsir_score(docs, model) \
        .select("doc_id", F.round("dsir_weight", 6).alias("w")) \
        .orderBy("doc_id").collect()
    fused = imp.dsir_weights(docs, F.col("lang") == "en",
                             n_buckets=512) \
        .select("doc_id", F.round("dsir_weight", 6).alias("w")) \
        .orderBy("doc_id").collect()
    assert split == fused
    with pytest.raises(ValueError, match="dsir_fit"):
        imp.dsir_score(docs, {"format": "nope"})


def test_dsir_score_is_map_only(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = imp.dsir_fit(docs, F.col("lang") == "en", n_buckets=64)
    plan = imp.dsir_score(docs, model) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# connected_components: NULL pairs + mixed dtypes (r6 ADVICE)
# ---------------------------------------------------------------------------

def test_cc_null_pairs_dropped_both_strategies(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 4), (5, None), (7, 8)],
        "id_a int, id_b int")
    for strat in ("driver", "distributed"):
        rows = {r["node"]: r["comp"] for r in
                dd.connected_components(pairs, strategy=strat).collect()}
        assert rows == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
        assert None not in rows and 4 not in rows and 5 not in rows


def test_cc_driver_promotes_mixed_dtypes(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a int, id_b long")
    out = dd.connected_components(pairs, strategy="driver")
    assert out.schema["node"].dataType.simpleString() == "bigint"
    assert out.schema["comp"].dataType.simpleString() == "bigint"
    assert {tuple(r) for r in out.collect()} == {(1, 1), (2, 1), (3, 1)}


def test_cc_auto_over_cap_goes_distributed(spark):
    """auto with the edge count over driver_max_pairs: the bounded
    LIMIT probe detects it (cap+1 two-column rows, immediately reused
    or discarded) and the distributed loop runs.  Deliberately NOT
    stats-gated: join-derived pair plans carry multiplied Catalyst
    estimates that would misroute tiny graphs to the expensive loop
    (measured on q_semdedup, see connected_components source note)."""
    rounds = []
    pairs = spark.range(0, 2000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    out = dd.connected_components(pairs, driver_max_pairs=10,
                                  _rounds_out=rounds)
    assert rounds and rounds[0] > 0  # distributed loop ran (not 0)
    assert out.filter(F.col("comp") != 0).count() == 0
    # and a join-derived plan with tiny true cardinality stays on the
    # driver fast path (rounds == 0) despite its inflated estimate
    a = spark.range(0, 50).select(F.col("id").alias("k"),
                                  F.col("id").alias("id_a"))
    b = spark.range(0, 50).select(F.col("id").alias("k"),
                                  (F.col("id") + 1).alias("id_b"))
    joined = a.join(b, "k").select("id_a", "id_b")
    rounds2 = []
    dd.connected_components(joined, _rounds_out=rounds2).collect()
    assert rounds2 == [0]


# ---------------------------------------------------------------------------
# fan_out: unknown-stats fallback (r6 ADVICE)
# ---------------------------------------------------------------------------

def test_fan_out_spreads_unknown_stats_single_partition(spark):
    from pydiverse_transform_spark.extras.util import (
        UNKNOWN_PLAN_SIZE, fan_out, plan_size_bytes)

    df = spark.createDataFrame(
        [(i, "x" * 50) for i in range(100)], "id int, text string"
    ).coalesce(1)
    assert plan_size_bytes(df) == UNKNOWN_PLAN_SIZE
    target = spark.sparkContext.defaultParallelism
    assert fan_out(df).rdd.getNumPartitions() == target


# ---------------------------------------------------------------------------
# _hadoop_files: hidden DIRECTORY components skipped (r6 ADVICE)
# ---------------------------------------------------------------------------

def test_hadoop_files_skips_hidden_directories(spark, tmp_path):
    from pydiverse_transform_spark.sources.sinks import _hadoop_files

    root = str(tmp_path / "ds")
    spark.range(10).write.parquet(root)
    meta = os.path.join(root, "_spark_metadata")
    os.makedirs(meta)
    for name in ("0", "1", "2"):  # commit logs: no hidden prefix
        with open(os.path.join(meta, name), "w") as f:
            f.write("x" * 1000)
    files = _hadoop_files(spark, root)
    assert files, "data files must still be listed"
    assert all("_spark_metadata" not in p for p, _ in files)


# ---------------------------------------------------------------------------
# ivfpq_topk_auto: safe-region defaults
# ---------------------------------------------------------------------------

def test_ivfpq_auto_pool_defaults(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    cents = sim.hyperplanes(64, 8, seed="ivfpq")
    cbs = sim.pq_codebooks(64, m=8, k=16)
    path = str(tmp_path / "idx_auto")
    sim.write_ivfpq(emb, path, cents, cbs)
    # default pool="auto" == 8*k*max(nprobe,2): explicit twin matches
    auto = sim.ivfpq_topk_auto(spark, path, QVEC, k=5, nprobe=2).collect()
    expl = sim.ivfpq_topk(spark, path, QVEC, cents, cbs, k=5, nprobe=2,
                          pool=80).collect()
    assert [tuple(r) for r in auto] == [tuple(r) for r in expl]
    # pool scales WITH nprobe (coupling rule)
    auto4 = sim.ivfpq_topk_auto(spark, path, QVEC, k=5, nprobe=4).collect()
    expl4 = sim.ivfpq_topk(spark, path, QVEC, cents, cbs, k=5, nprobe=4,
                           pool=160).collect()
    assert [tuple(r) for r in auto4] == [tuple(r) for r in expl4]
    # vectorless index: auto degrades to ADC-only instead of raising
    bare = str(tmp_path / "idx_novec")
    sim.write_ivfpq(emb, bare, cents, cbs, store_vectors=False)
    assert len(sim.ivfpq_topk_auto(spark, bare, QVEC, k=5).collect()) == 5


# ---------------------------------------------------------------------------
# ivfpq_maintain: fold + atomic swap + reset, crash recovery
# ---------------------------------------------------------------------------

def _build_index_with_staging(spark, sf_dir, base):
    emb = _emb(spark, sf_dir)
    cents = sim.hyperplanes(64, 8, seed="ivfpq")
    cbs = sim.pq_codebooks(64, m=8, k=16)
    idx, stg = base + "_idx", base + "_stg"
    for p in (idx, stg):
        shutil.rmtree(p, ignore_errors=True)
    evens = emb.filter(F.col("vec_id") % 2 == 0)
    odds = emb.filter(F.col("vec_id") % 2 == 1)
    sim.write_ivfpq(evens, idx, cents, cbs, residual=False)
    # staged appends: same encode + layout, no sidecar (what the
    # streaming sink produces, minus the _spark_metadata log)
    sim.ivfpq_encode(odds, cents, cbs, residual=False).write \
        .partitionBy("cell").parquet(stg)
    return idx, stg, emb.count()


def _topk_ids(spark, idx, extra=None):
    return [r["vec_id"] for r in sim.ivfpq_topk_auto(
        spark, idx, QVEC, k=10, nprobe=2, pool=100,
        extra_paths=extra).collect()]


def test_ivfpq_maintain_end_to_end(spark, sf_dir):
    base = os.path.join(TMP, "maint_e2e")
    idx, stg, n_total = _build_index_with_staging(spark, sf_dir, base)
    before = _topk_ids(spark, idx, extra=[stg])
    ckpt = base + "_ckpt"
    os.makedirs(ckpt, exist_ok=True)
    stats = sim.ivfpq_maintain(spark, idx, stg, ckpt)
    assert stats["recovered"] is None and stats["files_before"] > 0
    assert spark.read.parquet(idx).count() == n_total
    assert not os.path.exists(stg) and not os.path.exists(ckpt)
    assert not os.path.exists(idx + ".__new")
    assert not os.path.exists(idx + ".__old")
    assert not os.path.exists(idx + ".__swap")
    assert _topk_ids(spark, idx) == before
    # rerun with nothing staged: pure recompaction, still green
    stats2 = sim.ivfpq_maintain(spark, idx, stg)
    assert spark.read.parquet(idx).count() == n_total
    assert _topk_ids(spark, idx) == before
    shutil.rmtree(TMP, ignore_errors=True)


def test_ivfpq_maintain_crash_between_fold_and_swap(spark, sf_dir):
    """Phase-2 crash: a complete .__new exists but no journal — the
    live index is untouched and queryable; the rerun discards the stale
    fold and completes."""
    base = os.path.join(TMP, "maint_crash1")
    idx, stg, n_total = _build_index_with_staging(spark, sf_dir, base)
    combined = _topk_ids(spark, idx, extra=[stg])
    # simulate: fold ran, then the process died before the journal
    sim.ivfpq_fold_staging(spark, idx, stg, idx + ".__new")
    base_only = _topk_ids(spark, idx)          # index still queryable
    assert len(base_only) == 10
    stats = sim.ivfpq_maintain(spark, idx, stg)
    assert stats["recovered"] is None          # no journal -> no recovery
    assert spark.read.parquet(idx).count() == n_total
    assert _topk_ids(spark, idx) == combined
    shutil.rmtree(TMP, ignore_errors=True)


def test_ivfpq_maintain_crash_mid_swap_rolls_forward(spark, sf_dir):
    """Phase-3 crash between the two renames: journal present, index
    missing, .__old and .__new both on disk.  Recovery completes the
    swap (roll forward) and the rerun leaves a full index."""
    base = os.path.join(TMP, "maint_crash2")
    idx, stg, n_total = _build_index_with_staging(spark, sf_dir, base)
    combined = _topk_ids(spark, idx, extra=[stg])
    sim.ivfpq_fold_staging(spark, idx, stg, idx + ".__new")
    with open(idx + ".__swap", "w") as f:
        f.write("{}")
    os.rename(idx, idx + ".__old")             # crash right here
    stats = sim.ivfpq_maintain(spark, idx, stg)
    assert stats["recovered"] == "rolled_forward_new"
    assert spark.read.parquet(idx).count() == n_total
    assert _topk_ids(spark, idx) == combined
    assert not os.path.exists(idx + ".__old")
    assert not os.path.exists(idx + ".__swap")
    shutil.rmtree(TMP, ignore_errors=True)


def test_ivfpq_maintain_crash_before_first_rename_rolls_back(
        spark, sf_dir):
    """Journal written but neither rename happened: recovery rolls the
    stale .__new back and the rerun folds fresh."""
    base = os.path.join(TMP, "maint_crash3")
    idx, stg, n_total = _build_index_with_staging(spark, sf_dir, base)
    combined = _topk_ids(spark, idx, extra=[stg])
    sim.ivfpq_fold_staging(spark, idx, stg, idx + ".__new")
    with open(idx + ".__swap", "w") as f:
        f.write("{}")                          # crash right here
    stats = sim.ivfpq_maintain(spark, idx, stg)
    assert stats["recovered"] == "rolled_back_stale_new"
    assert spark.read.parquet(idx).count() == n_total
    assert _topk_ids(spark, idx) == combined
    shutil.rmtree(TMP, ignore_errors=True)
