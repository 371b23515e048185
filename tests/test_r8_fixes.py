"""Round-8 regression tests for the r7 ADVICE findings: ivfpq_encode
null-embedding rows surviving BOTH assignment paths, ivfpq_maintain
journal-verified recovery, assign_cells_multi boundary-tie determinism,
and the join strategy's null-vector contract alignment."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pydiverse_transform_spark.extras import similarity as sim

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp_test_r8")

QVEC = [((i * 37) % 101 - 50) / 50.0 for i in range(64)]


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# ADVICE (medium): ivfpq_encode must not lose null-embedding rows on the
# numpy residual path — index contents must not depend on k's dispatch
# ---------------------------------------------------------------------------

def test_ivfpq_encode_null_embedding_kept_both_paths(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    cents = rng.random((4, 8)).tolist()
    cbs = sim.pq_codebooks(8, m=2, k=4)
    df = spark.createDataFrame(
        [(1, [float(v) for v in rng.random(8)]),
         (2, None),
         (3, [float(v) for v in rng.random(8)])],
        "vec_id int, embedding array<double>")
    for residual in (True, False):
        lit = sim.ivfpq_encode(df, cents, cbs, residual=residual,
                               assign_method="literal") \
            .select("vec_id", "cell", "pq_code").orderBy("vec_id") \
            .collect()
        npy = sim.ivfpq_encode(df, cents, cbs, residual=residual,
                               assign_method="numpy") \
            .select("vec_id", "cell", "pq_code").orderBy("vec_id") \
            .collect()
        assert len(lit) == len(npy) == 3, \
            "null-embedding row dropped by one path"
        assert [tuple(r) for r in lit] == [tuple(r) for r in npy]
        null_row = [r for r in npy if r["vec_id"] == 2][0]
        # contract (same as the literal path): null cell, and a code
        # array whose per-subspace entries are all null
        assert null_row["cell"] is None
        assert all(c is None for c in null_row["pq_code"])


# ---------------------------------------------------------------------------
# ADVICE (low): ivfpq_maintain recovery must honor the journal's recorded
# staging root, not this call's arguments
# ---------------------------------------------------------------------------

def _mini_index(spark, base):
    import numpy as np

    rng = np.random.default_rng(5)
    cents = rng.random((4, 8)).tolist()
    cbs = sim.pq_codebooks(8, m=2, k=4)
    df = spark.createDataFrame(
        [(i, [float(v) for v in rng.random(8)]) for i in range(20)],
        "vec_id int, embedding array<double>")
    idx, stg = base + "_idx", base + "_stg"
    for p in (idx, stg):
        shutil.rmtree(p, ignore_errors=True)
    sim.write_ivfpq(df.filter(F.col("vec_id") < 10), idx, cents, cbs,
                    residual=False)
    sim.ivfpq_encode(df.filter(F.col("vec_id") >= 10), cents, cbs,
                     residual=False).write.partitionBy("cell").parquet(stg)
    return idx, stg


def test_ivfpq_maintain_journal_staging_mismatch_refuses(spark):
    base = os.path.join(TMP, "jrnl_mismatch")
    idx, stg = _mini_index(spark, base)
    other_stg = base + "_other_stg"
    shutil.rmtree(other_stg, ignore_errors=True)
    os.makedirs(other_stg)
    with open(os.path.join(other_stg, "part-0.parquet"), "wb") as f:
        f.write(b"")
    # simulate a mid-swap crash of a run that was folding `stg`
    sim.ivfpq_fold_staging(spark, idx, stg, idx + ".__new")
    import json as _j
    with open(idx + ".__swap", "w") as f:
        f.write(_j.dumps({"index": idx, "staging": stg,
                          "checkpoint": None}))
    os.rename(idx, idx + ".__old")
    # a rerun pointed at a DIFFERENT staging root must refuse — its rows
    # were never folded, and the old reset path would have deleted them
    with pytest.raises(IOError, match="staging root"):
        sim.ivfpq_maintain(spark, idx, other_stg)
    assert os.path.exists(other_stg), "unfolded staging root deleted"
    # the correct rerun (journaled staging) recovers and completes
    stats = sim.ivfpq_maintain(spark, idx, stg)
    assert stats["recovered"] == "rolled_forward_new"
    assert spark.read.parquet(idx).count() == 20
    assert not os.path.exists(stg)
    shutil.rmtree(TMP, ignore_errors=True)


def test_ivfpq_maintain_journal_index_mismatch_refuses(spark):
    base = os.path.join(TMP, "jrnl_idx_mismatch")
    idx, stg = _mini_index(spark, base)
    import json as _j
    with open(idx + ".__swap", "w") as f:
        f.write(_j.dumps({"index": idx + "_elsewhere", "staging": stg}))
    with pytest.raises(IOError, match="records index"):
        sim.ivfpq_maintain(spark, idx, stg)
    os.remove(idx + ".__swap")
    shutil.rmtree(TMP, ignore_errors=True)


def test_ivfpq_maintain_rollforward_resets_journaled_checkpoint(spark):
    """The journal now records the checkpoint too: a roll-forward after
    a crash between the renames resets the checkpoint of the
    INTERRUPTED run even when the rerun passes none."""
    base = os.path.join(TMP, "jrnl_ckpt")
    idx, stg = _mini_index(spark, base)
    ckpt = base + "_ckpt"
    os.makedirs(ckpt, exist_ok=True)
    with open(os.path.join(ckpt, "offsets"), "w") as f:
        f.write("x")
    sim.ivfpq_fold_staging(spark, idx, stg, idx + ".__new")
    import json as _j
    with open(idx + ".__swap", "w") as f:
        f.write(_j.dumps({"index": idx, "staging": stg,
                          "checkpoint": ckpt}))
    os.rename(idx, idx + ".__old")
    stats = sim.ivfpq_maintain(spark, idx, stg)  # note: no ckpt arg
    assert stats["recovered"] == "rolled_forward_new"
    assert not os.path.exists(ckpt), \
        "journaled checkpoint must be reset on roll-forward"
    assert spark.read.parquet(idx).count() == 20
    shutil.rmtree(TMP, ignore_errors=True)


# ---------------------------------------------------------------------------
# ADVICE (low): assign_cells_multi boundary ties must be deterministic
# (ties to the LOWEST cid, even when they straddle the n_probe cut)
# ---------------------------------------------------------------------------

def test_assign_cells_multi_boundary_ties_to_lowest_cid(spark):
    # three IDENTICAL centroids + one far one: at n_probe=2 the tie
    # straddles the selection boundary; the contract picks cids [0, 1]
    cents = [[0.0, 0.0], [0.0, 0.0], [0.0, 0.0], [50.0, 50.0]]
    df = spark.createDataFrame(
        [(i, [float(i) / 10.0, 0.0]) for i in range(30)],
        "vec_id int, embedding array<double>")
    out = sim.assign_cells_multi(df, cents, n_probe=2).collect()
    for r in out:
        assert list(r["__cells"]) == [0, 1], \
            f"nondeterministic boundary tie: {r['__cells']}"
    # and a 3-probe over the same ties appends the next-lowest cid
    out3 = sim.assign_cells_multi(df, cents, n_probe=3).collect()
    for r in out3:
        assert list(r["__cells"]) == [0, 1, 2]


# ---------------------------------------------------------------------------
# ADVICE (low): every strategy keeps a null-vector row with a null cell;
# the join strategy is removed and its method name now raises
# ---------------------------------------------------------------------------

def test_assign_cells_join_null_vector_matches_other_paths(spark):
    cents = [[0.0, 0.0], [10.0, 10.0]]
    df = spark.createDataFrame(
        [(1, [0.5, 0.2], "a"), (2, [9.0, 9.5], "b"), (3, None, "c")],
        "vec_id int, embedding array<double>, tag string")
    expected = [(1, "a", 0), (2, "b", 1), (3, "c", None)]
    for method in ("literal", "numpy"):
        rows = sim.assign_cells(df, cents, method=method) \
            .select("vec_id", "tag", "__cell").orderBy("vec_id").collect()
        assert [tuple(r) for r in rows] == expected, method
    with pytest.raises(ValueError, match="auto|literal|numpy"):
        sim.assign_cells(df, cents, method="join")


# ---------------------------------------------------------------------------
# r8: query-time probe selection is vectorized — must agree with the
# brute-force definition and keep ties-to-lowest-cid
# ---------------------------------------------------------------------------

def test_query_probe_cells_matches_bruteforce_and_ties():
    cents = [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [0.6, 0.6]]
    q = [1.0, 0.1]
    # l2: brute-force distances, stable order
    d2 = [(sum((float(a) - b) ** 2 for a, b in zip(q, c)), i)
          for i, c in enumerate(cents)]
    expect_l2 = [i for _, i in sorted(d2)][:3]
    assert sim._query_probe_cells(q, cents, 3, metric="l2") == expect_l2
    # centroids 0 and 2 are identical -> the tie goes to cid 0 first
    assert sim._query_probe_cells(q, cents, 2, metric="l2")[:2] == [0, 2]
    # dot: argmax ordering, same tie contract
    sc = [(sum(a * float(b) for a, b in zip(c, q)), i)
          for i, c in enumerate(cents)]
    expect_dot = [i for _, i in sorted(sc, key=lambda t: (-t[0], t[1]))][:3]
    assert sim._query_probe_cells(q, cents, 3, metric="dot") == expect_dot


# ---------------------------------------------------------------------------
# r8: the parsed-sidecar cache must serve repeat reads and invalidate
# when the sidecar is rewritten ((mtime, length) key); r9 (ADVICE):
# callers get a SHALLOW COPY — the heavy ndarray is shared, the dict
# is not, so mutating a result cannot poison later queries
# ---------------------------------------------------------------------------

def test_ivfpq_meta_cache_hit_and_invalidation(spark, tmp_path):
    import time as _time

    import numpy as np

    emb = _emb(spark, "/root/testdata/sf0.001")
    cents = sim.hyperplanes(64, 4, seed="cache")
    cbs = sim.pq_codebooks(64, m=4, k=8)
    path = str(tmp_path / "cidx")
    sim.write_ivfpq(emb, path, cents, cbs, residual=True)
    m1 = sim.read_ivfpq_meta(spark, path)
    assert isinstance(m1["_centroids_np"], np.ndarray)
    assert m1["_centroids_np"].shape == (4, 64)
    # second read hits the cache: fresh dict, SHARED ndarray (the copy
    # is what makes caller-side mutation safe; the matrix is the part
    # worth caching)
    m1b = sim.read_ivfpq_meta(spark, path)
    assert m1b is not m1
    assert m1b["_centroids_np"] is m1["_centroids_np"]
    assert {k: v for k, v in m1b.items() if k != "_centroids_np"} \
        == {k: v for k, v in m1.items() if k != "_centroids_np"}
    # a caller mutating its copy must not poison later reads
    m1b["residual"] = "poisoned"
    m1b.pop("centroids")
    m1c = sim.read_ivfpq_meta(spark, path)
    assert m1c["residual"] is True and "centroids" in m1c
    # rewrite the sidecar with a different model -> cache must miss
    _time.sleep(0.05)  # local-fs mtime granularity
    cents2 = sim.hyperplanes(64, 6, seed="cache2")
    cbs2 = sim.pq_codebooks(64, m=4, k=8, seed="pq2")
    sim.write_ivfpq_meta(spark, path, cents2, cbs2,
                         residual=False, store_vectors=True)
    m2 = sim.read_ivfpq_meta(spark, path)
    assert m2["n_cells"] == 6 and m2["residual"] is False
    # use_cache=False always re-reads
    assert sim.read_ivfpq_meta(spark, path, use_cache=False) is not m2


def test_ivfpq_meta_cache_is_bounded_lru(spark, tmp_path, monkeypatch):
    """The sidecar cache must not grow without bound (one k=110k entry
    is hundreds of MB of driver memory under rolling maintenance), and
    a cache hit must refresh recency."""
    emb = _emb(spark, "/root/testdata/sf0.001")
    cbs = sim.pq_codebooks(64, m=4, k=8)
    monkeypatch.setattr(sim, "_IVFPQ_META_CACHE_MAX", 2)
    monkeypatch.setattr(sim, "_IVFPQ_META_CACHE", {})
    paths = []
    metas = []
    for i in range(3):
        cents = sim.hyperplanes(64, 4, seed=f"lru{i}")
        p = str(tmp_path / f"idx{i}")
        sim.write_ivfpq(emb, p, cents, cbs, residual=False)
        paths.append(p)
        if i == 1:
            metas.append(sim.read_ivfpq_meta(spark, paths[0]))
            metas.append(sim.read_ivfpq_meta(spark, paths[1]))
            # hit path 0 again -> it becomes most recent (cache hits
            # share the ndarray; the dict itself is a fresh copy)
            assert (sim.read_ivfpq_meta(spark, paths[0])
                    ["_centroids_np"] is metas[0]["_centroids_np"])
    m2 = sim.read_ivfpq_meta(spark, paths[2])
    assert len(sim._IVFPQ_META_CACHE) == 2
    # path 1 (least-recently used) was evicted; 0 and 2 survive
    assert set(sim._IVFPQ_META_CACHE) == {paths[0], paths[2]}
    assert (sim.read_ivfpq_meta(spark, paths[0])["_centroids_np"]
            is metas[0]["_centroids_np"])
    assert (sim.read_ivfpq_meta(spark, paths[2])["_centroids_np"]
            is m2["_centroids_np"])


# ---------------------------------------------------------------------------
# r8: hierarchical spread seeding (the k>=4096 scale path) — exact
# count, determinism, corpus membership, quota capping, flat-path
# equivalence below the auto threshold
# ---------------------------------------------------------------------------

def _seed_df(spark, n=400, dim=6, seed=11):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [(i, rng.normal(size=dim).tolist()) for i in range(n)]
    return rows, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


def test_spread_seeds_hierarchical_contract(spark):
    rows, df = _seed_df(spark)
    flat = sim.kmeans_spread_seeds(df, 15, hierarchical=False)
    auto = sim.kmeans_spread_seeds(df, 15)          # k < 4096 -> flat
    assert flat == auto
    hier = sim.kmeans_spread_seeds(df, 15, hierarchical=True)
    assert hier == sim.kmeans_spread_seeds(df, 15, hierarchical=True)
    assert len(hier) == 15
    pool = {tuple(r[1]) for r in rows}
    assert all(tuple(s) in pool for s in hier)
    assert len({tuple(s) for s in hier}) == 15      # all distinct here


def test_spread_seeds_hierarchical_quota_capping(spark):
    # a coarse cell whose pool is smaller than its proportional quota
    # must be capped and the remainder redistributed: 3 tight clusters
    # of very different sizes, k close to the pool size
    import numpy as np

    rng = np.random.default_rng(5)
    rows = []
    vid = 0
    for center, n in ((0.0, 30), (100.0, 3), (200.0, 3)):
        for _ in range(n):
            rows.append((vid, (center + rng.normal(scale=.01,
                                                   size=4)).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.kmeans_spread_seeds(df, 30, oversample=2,
                                  hierarchical=True, coarse_k=3)
    assert len(out) == 30


def test_spread_seeds_hierarchical_validation(spark):
    _, df = _seed_df(spark, n=50)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hierarchical"):
        sim.kmeans_spread_seeds(df, 5, hierarchical="sometimes")


# ---------------------------------------------------------------------------
# r8: embedding_filter_new — semantic ingest dedup against a persisted
# IVF-PQ index (SemDeDup for increments)
# ---------------------------------------------------------------------------

def _efn_index(spark, tmp_path, *, store_vectors=True, k=16):
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    inc = emb.filter(F.col("vec_id") % 4 == 0)
    cents = sim.hyperplanes(64, k, seed="efn")
    cbs = sim.pq_codebooks(64, m=8, k=16)
    path = str(tmp_path / "efnidx")
    sim.write_ivfpq(base, path, cents, cbs, residual=True,
                    store_vectors=store_vectors)
    return path, base, inc


def test_embedding_filter_new_contract(spark, tmp_path):
    from pyspark.sql import functions as F

    path, base, inc = _efn_index(spark, tmp_path)
    # self-probe of INDEXED rows: every vector hits itself at cos 1.0
    assert sim.embedding_filter_new(spark, path, base,
                                    threshold=0.999).count() == 0
    # survivors at 0.4 = increment minus cell-blocked cosine hits;
    # more probes can only add hits, never survivors
    s1 = {r["vec_id"] for r in sim.embedding_filter_new(
        spark, path, inc, threshold=0.4, n_probe=1,
        probe_margin=None).select("vec_id").collect()}
    s2 = {r["vec_id"] for r in sim.embedding_filter_new(
        spark, path, inc, threshold=0.4, n_probe=2,
        probe_margin=None).select("vec_id").collect()}
    assert s2 <= s1
    assert 0 < len(s1) < inc.count() + 1


def test_embedding_filter_new_prunes_partitions(spark, tmp_path):
    """The index scan must carry the probed cells as a literal
    partition filter — static pruning, not a full-index read."""
    from pyspark.sql import functions as F

    import re

    path, base, inc = _efn_index(spark, tmp_path)
    out = sim.embedding_filter_new(spark, path, inc.limit(5),
                                   threshold=0.9, n_probe=1,
                                   probe_margin=None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the literal IN list must appear INSIDE a PartitionFilters clause
    # (a bare 'PartitionFilters: []' plus cell attribute refs elsewhere
    # must NOT pass — that was the vacuous form of this assertion)
    clauses = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert clauses, "no PartitionFilters clause in the executed plan"
    assert any(re.search(r"cell#\d+L? IN(SET)? ", c) for c in clauses), \
        f"no literal cell IN filter pushed; clauses={clauses!r}"


def test_embedding_filter_new_admit_cycle(spark, tmp_path):
    from pyspark.sql import functions as F

    path, base, inc = _efn_index(spark, tmp_path)
    surv = sim.embedding_filter_new(spark, path, inc, threshold=0.4,
                                    n_probe=1, probe_margin=None,
                                    admit=True)
    n1 = surv.count()
    assert n1 > 0
    # admitted: re-probing the survivors' own vectors under fresh ids
    # drops every one of them
    re = sim.embedding_filter_new(
        spark, path,
        surv.withColumn("vec_id", F.col("vec_id") + 9_000_000),
        threshold=0.999)
    assert re.count() == 0
    # the index stays queryable after the append
    assert sim.ivfpq_topk_auto(spark, path, [0.1] * 64, k=5).count() == 5


def test_embedding_filter_new_requires_vectors(spark, tmp_path):
    path, base, inc = _efn_index(spark, tmp_path, store_vectors=False)
    with pytest.raises(ValueError, match="store_vectors"):
        sim.embedding_filter_new(spark, path, inc)


def test_embedding_filter_new_admit_casts_to_index_type(spark, tmp_path):
    """Admitting array<double> vectors into an array<float> index must
    cast — mixed-schema partition files crash later reads."""
    from pyspark.sql import functions as F

    path, base, inc = _efn_index(spark, tmp_path)
    novel = [1.0 if i == 0 else 0.0 for i in range(64)]
    arrival = spark.createDataFrame(
        [(9001, novel)], "vec_id long, embedding array<double>")
    surv = sim.embedding_filter_new(spark, path, arrival,
                                    threshold=0.999, admit=True)
    assert surv.count() == 1
    idx = spark.read.parquet(path)
    assert dict(idx.dtypes)["embedding"] == "array<float>"
    assert idx.count() == base.count() + 1
    assert sim.ivfpq_topk_auto(spark, path, novel, k=3).count() == 3


def test_embedding_filter_new_skips_literal_filter_when_probing_all(
        spark, tmp_path, monkeypatch):
    """Past the literal gate (an increment probing most of a large-k
    index) the cell IN list is dropped — the equi-join alone is
    equivalent and a 10^5-literal filter would be the plan explosion
    the flat-k kernel exists to avoid.  Results must be identical."""
    from pyspark.sql import functions as F

    path, base, inc = _efn_index(spark, tmp_path)
    want = {r["vec_id"] for r in sim.embedding_filter_new(
        spark, path, inc, threshold=0.4, n_probe=1,
        probe_margin=None).select("vec_id").collect()}
    # force the gate shut (module-global `min` resolves here): every
    # probe set now exceeds it and the literal filter is skipped
    import pydiverse_transform_spark.extras.similarity as simmod
    monkeypatch.setattr(simmod, "min", lambda *a: 0, raising=False)
    got = {r["vec_id"] for r in sim.embedding_filter_new(
        spark, path, inc, threshold=0.4, n_probe=1,
        probe_margin=None).select("vec_id").collect()}
    assert got == want
