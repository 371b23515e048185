"""Round-10 fixes: the r9 VERDICT punch list + ADVICE findings.

- standalone journal recovery (``minhash_index_recover`` /
  ``ivfpq_recover``) runnable BEFORE any meta read, wired into the
  ingest-stream constructors (ADVICE r9 #1: a crash inside the
  maintain hook's swap window previously left the stream unable to
  restart — FileNotFound at read_*_meta before any recovery ran)
- driver-materialization cap in ``semantic_contaminated_ids``
  (ADVICE r9 #2: oversized/swapped benchmark OOMs the driver)
- minimum-support guard in substring_dedup's skew probe
  (ADVICE r9 #3: a lone sampled hit at the clamped sample floor
  extrapolated to 10^6 and routed every corpus to rescan)
- frozen shared cache internals in ``read_ivfpq_meta``
  (VERDICT r9 nit #2: nested centroid/codebook lists and the
  ``_centroids_np`` ndarray were mutably shared with the cache)
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pydiverse_transform_spark.extras import dedup
from pydiverse_transform_spark.extras import similarity as sim

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".tmp_test")


# ---------------------------------------------------------------------------
# standalone journal recovery (ADVICE r9 #1, medium)
# ---------------------------------------------------------------------------

def _mh_index(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "mh_idx")
    dedup.write_minhash_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    return docs, path


def _crash_mid_swap(spark, path):
    """Simulate a maintain run dying BETWEEN the two swap renames:
    journal present, no directory at ``path``, complete .__new and
    .__old survivors.  This is exactly the state where read_*_meta
    raises FileNotFound until recovery rolls the journal forward."""
    from pydiverse_transform_spark.extras.util import fs_write_json

    fs_write_json(spark, path + ".__swap", {"index": path})
    shutil.copytree(path, path + ".__new")
    shutil.move(path, path + ".__old")


def test_minhash_index_recover_rolls_forward(spark, tmp_path):
    docs, path = _mh_index(spark, tmp_path)
    n0 = spark.read.parquet(path).count()
    _crash_mid_swap(spark, path)
    # the crash state is unreadable without recovery
    with pytest.raises(Exception):
        dedup.read_minhash_meta(spark, path)
    assert dedup.minhash_index_recover(spark, path) == "rolled_forward_new"
    assert spark.read.parquet(path).count() == n0
    assert dedup.read_minhash_meta(spark, path)["format"] == "minhashlsh/1"
    for suffix in (".__swap", ".__new", ".__old"):
        assert not os.path.exists(path + suffix)
    # idempotent: a second call is a no-op
    assert dedup.minhash_index_recover(spark, path) is None
    # wrong-index journal refuses loudly
    from pydiverse_transform_spark.extras.util import fs_write_json

    fs_write_json(spark, path + ".__swap", {"index": "/elsewhere"})
    with pytest.raises(IOError, match="refusing"):
        dedup.minhash_index_recover(spark, path)
    os.remove(path + ".__swap")


def test_neardup_ingest_stream_restarts_after_swap_crash(spark, tmp_path):
    """The stream CONSTRUCTOR must self-heal a crashed maintain swap:
    before the fix, read_minhash_meta at construction raised
    FileNotFound and the journal recovery was unreachable."""
    from pydiverse_transform_spark import streaming as st

    docs, path = _mh_index(spark, tmp_path)
    inc = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    src = str(tmp_path / "src")
    inc.limit(5).coalesce(1).write.parquet(src)
    _crash_mid_swap(spark, path)
    stream = st.read_event_stream(spark, src, schema=inc.schema)
    q = st.neardup_ingest_stream(
        stream, path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        threshold=0.45, admit=False, available_now=True)
    q.awaitTermination(120)
    # recovery happened at construction and the stream ran
    assert not os.path.exists(path + ".__swap")
    assert spark.read.parquet(str(tmp_path / "out")).count() >= 0


def test_ivfpq_recover_rolls_forward(spark, tmp_path):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.hyperplanes(64, 4, seed="r10")
    cbs = sim.pq_codebooks(64, m=4, k=8)
    path = str(tmp_path / "ivf_idx")
    sim.write_ivfpq(emb, path, cents, cbs, residual=True)
    n0 = spark.read.parquet(path).count()
    _crash_mid_swap(spark, path)
    assert sim.ivfpq_recover(spark, path) == "rolled_forward_new"
    assert spark.read.parquet(path).count() == n0
    assert sim.read_ivfpq_meta(spark, path,
                               use_cache=False)["format"] == "ivfpq/1"
    assert sim.ivfpq_recover(spark, path) is None
    # roll-forward reset targets the JOURNAL's recorded staging root
    staging = str(tmp_path / "staging")
    os.makedirs(staging)
    from pydiverse_transform_spark.extras.util import fs_write_json

    fs_write_json(spark, path + ".__swap",
                  {"index": path, "staging": staging, "checkpoint": None})
    shutil.copytree(path, path + ".__new")
    shutil.move(path, path + ".__old")
    assert sim.ivfpq_recover(spark, path) == "rolled_forward_new"
    assert not os.path.exists(staging)


def test_semantic_ingest_stream_restarts_after_swap_crash(spark, tmp_path):
    from pydiverse_transform_spark import streaming as st

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.hyperplanes(64, 4, seed="r10s")
    cbs = sim.pq_codebooks(64, m=4, k=8)
    path = str(tmp_path / "ivf_idx")
    sim.write_ivfpq(emb.filter(F.col("vec_id") % 2 == 0), path,
                    cents, cbs, residual=True, store_vectors=True)
    inc = emb.filter(F.col("vec_id") % 2 == 1) \
        .select("vec_id", "embedding")
    src = str(tmp_path / "src")
    inc.limit(5).coalesce(1).write.parquet(src)
    _crash_mid_swap(spark, path)
    stream = st.read_event_stream(spark, src, schema=inc.schema)
    q = st.semantic_ingest_stream(
        stream, path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        threshold=0.99, admit=False, available_now=True)
    q.awaitTermination(120)
    assert not os.path.exists(path + ".__swap")
    assert spark.read.parquet(str(tmp_path / "out")).count() >= 0


# ---------------------------------------------------------------------------
# semantic_contaminated_ids driver-materialization cap (ADVICE r9 #2)
# ---------------------------------------------------------------------------

def test_contaminated_ids_collect_cap_fallback(spark, tmp_path,
                                               monkeypatch):
    """Above the cap the benchmark side is lineage-severed via eager
    localCheckpoint instead of a driver collect — the result must be
    identical, including on the shared-lineage crash shape pinned in
    test_r9_fixes."""
    src = str(tmp_path / "v")
    rows = [(1, [0.5] * 4), (2, [0.51] * 4), (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.49] * 4), (5, [1.0, 0.0, 0.0, 0.0])]
    df = None
    for vid, vec in rows:
        p = spark.range(1).select(
            F.lit(vid).alias("vec_id"),
            F.array(*[F.lit(float(x)) for x in vec]).alias("embedding"))
        df = p if df is None else df.unionByName(p)
    df.write.parquet(src)
    emb = spark.read.parquet(src)
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]

    def run():
        return {r["vec_id"] for r in sim.semantic_contaminated_ids(
            emb.filter(F.col("vec_id").isin([2, 3, 4])),
            emb.filter(F.col("vec_id").isin([1, 5])).select("embedding"),
            cents, threshold=0.99).collect()}

    want = run()
    assert want == {2, 4}
    # force the fallback path: every benchmark row count exceeds cap=1
    monkeypatch.setattr(sim, "_BENCH_COLLECT_CAP", 1)
    assert run() == want


# ---------------------------------------------------------------------------
# substring_dedup skew-probe minimum support (ADVICE r9 #3)
# ---------------------------------------------------------------------------

def test_span_probe_requires_min_support(spark):
    from pydiverse_transform_spark.extras.dedup import (
        _SPAN_PROBE_MIN_SUPPORT, _route_span_strategy)

    boiler = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler + " tail"),
                 F.col("id").cast("string")).alias("text"))
    # 50 sampled occurrences < the 100-occurrence support floor: stays
    # sort even though 50/1.0 >= threshold=10 would have said rescan
    assert 50 < _SPAN_PROBE_MIN_SUPPORT
    assert _route_span_strategy(
        docs, "text", "doc_id", window=8, stride=1,
        skew_threshold=10, sample_pct=100.0) == "sort"
    # with real support (>=100 sampled occurrences) routing still fires
    docs_big = spark.range(150).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler + " tail"),
                 F.col("id").cast("string")).alias("text"))
    assert _route_span_strategy(
        docs_big, "text", "doc_id", window=8, stride=1,
        skew_threshold=10, sample_pct=100.0) == "rescan"


# ---------------------------------------------------------------------------
# read_ivfpq_meta frozen cache internals (VERDICT r9 nit #2)
# ---------------------------------------------------------------------------

def test_ivfpq_meta_cache_is_mutation_proof(spark, tmp_path):
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.hyperplanes(64, 4, seed="frz")
    cbs = sim.pq_codebooks(64, m=4, k=8)
    path = str(tmp_path / "idx")
    sim.write_ivfpq(emb.limit(50), path, cents, cbs, residual=True)
    meta = sim.read_ivfpq_meta(spark, path)
    with pytest.raises(ValueError):
        meta["_centroids_np"][0, 0] = 123.0     # read-only ndarray
    with pytest.raises(TypeError):
        meta["centroids"][0][0] = 123.0         # nested tuples
    with pytest.raises(TypeError):
        meta["codebooks"][0][0][0] = 123.0
    # replacing a top-level key only affects the caller's shallow copy
    meta["centroids"] = "junk"
    meta2 = sim.read_ivfpq_meta(spark, path)
    assert np.asarray(meta2["centroids"], dtype=float).shape \
        == np.asarray(cents, dtype=float).shape
    assert meta2["_centroids_np"].flags.writeable is False
    # the frozen meta still drives a working query
    q = [0.1] * 64
    assert sim.ivfpq_topk_auto(spark, path, q, k=3).count() == 3


# ---------------------------------------------------------------------------
# LSH lookup candidate-volume governors (VERDICT r9 next #2)
# ---------------------------------------------------------------------------

def _gov_index(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    path = str(tmp_path / "gov_idx")
    dedup.write_minhash_index(docs.filter(F.col("doc_id") % 4 != 0), path)
    probe = docs.filter(F.col("doc_id") % 4 == 0)
    return path, probe


def test_lookup_governors_off_is_identity(spark, tmp_path):
    """min_bands=1 / top_k=None (the defaults) reproduce the
    ungoverned result exactly — the driver-gate query is untouched."""
    path, probe = _gov_index(spark, tmp_path)
    base = dedup.minhash_index_lookup(spark, path, probe, threshold=0.2)
    gov = dedup.minhash_index_lookup(spark, path, probe, threshold=0.2,
                                     min_bands=1, top_k=None)
    assert sorted(base.collect()) == sorted(gov.collect())


def test_lookup_governed_is_filtered_subset(spark, tmp_path):
    """Governed-on returns a subset of the ungoverned result with
    identical est_jaccard values; min_bands prunes exactly the pairs
    with < b matching bands; top_k keeps the per-probe best k."""
    path, probe = _gov_index(spark, tmp_path)
    base = {(r.probe_id, r.index_id): r.est_jaccard
            for r in dedup.minhash_index_lookup(
                spark, path, probe, threshold=0.0).collect()}
    got2 = {(r.probe_id, r.index_id): r.est_jaccard
            for r in dedup.minhash_index_lookup(
                spark, path, probe, threshold=0.0,
                min_bands=2).collect()}
    assert set(got2) <= set(base)
    assert all(base[k] == v for k, v in got2.items())
    # independent band-count recomputation: the pruned pairs are
    # exactly those with < 2 distinct matching bands
    meta = dedup.read_minhash_meta(spark, path)
    pb = dedup._probe_buckets(meta, probe)
    idx = spark.read.parquet(path)
    nb = {(r.probe_id, r.index_id): r.nb
          for r in idx.join(pb, on=["band", "h"])
          .groupBy("probe_id", F.col(meta["id_col"]).alias("index_id"))
          .agg(F.countDistinct("band").alias("nb")).collect()}
    expect2 = {k for k, n in nb.items() if n >= 2}
    assert set(got2) == expect2
    # top_k: per-probe cap at the best estimates, index_id tie-break
    k = 2
    topk = dedup.minhash_index_lookup(spark, path, probe, threshold=0.0,
                                      top_k=k).collect()
    per_probe = {}
    for r in topk:
        per_probe.setdefault(r.probe_id, []).append(r)
    assert all(len(v) <= k for v in per_probe.values())
    for pid, rows in per_probe.items():
        all_for_pid = sorted(
            ((-est, iid) for (p, iid), est in base.items() if p == pid))
        expect = {iid for _, iid in all_for_pid[:k]}
        assert {r.index_id for r in rows} == expect


def test_lookup_governor_validation(spark, tmp_path):
    path, probe = _gov_index(spark, tmp_path)
    with pytest.raises(ValueError, match="min_bands"):
        dedup.minhash_index_lookup(spark, path, probe, min_bands=0)
    with pytest.raises(ValueError, match="top_k"):
        dedup.minhash_index_lookup(spark, path, probe, top_k=0)


# ---------------------------------------------------------------------------
# kprop quantizer (VERDICT r9 next #1, revised after the sf100 sweep)
# ---------------------------------------------------------------------------

def test_kprop_plane_count_tracks_corpus():
    """p = clamp(ceil(log2(n/100)), 4, 15) keeps k = 2^p ~ n/100 at
    every benchmark scale — the SCALE_KNOBS sizing rule with no
    literal budget (p*64 plane components embed in both engines)."""
    import __spark_entry__ as se

    assert se._kprop_n_planes(200) == 4          # sf0.01 -> 16 cells
    assert se._kprop_n_planes(2_000) == 5        # sf0.1  -> 32
    assert se._kprop_n_planes(20_000) == 8       # sf1    -> 256
    assert se._kprop_n_planes(200_000) == 11     # sf10   -> 2048
    assert se._kprop_n_planes(2_000_000) == 15   # sf100  -> 32768
    assert len(se._kprop_planes()) == se._KPROP_MAX_PLANES


def test_kprop_bucket_matches_plain_python(spark):
    """similarity.signlsh_bucket over the kprop family agrees with a
    plain-Python fold of the same planes — the property the DuckDB
    oracle's 2^(i-1) bit CASE expression relies on."""
    import __spark_entry__ as se

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .limit(50)
    planes = se._kprop_planes()[: se._kprop_n_planes(200)]
    got = {r["vec_id"]: r["b"] for r in emb.select(
        "vec_id", sim.signlsh_bucket(F.col("embedding"), planes)
        .alias("b")).collect()}
    for r in emb.collect():
        b = 0
        for i, pl in enumerate(planes):
            if sum(a * float(v) for a, v in zip(pl, r["embedding"])) > 0:
                b += 2 ** i
        assert got[r["vec_id"]] == b


# ---------------------------------------------------------------------------
# cell-local component backend (r10: found by the sf100 three-decade
# sweep — dup-saturated corpora make the pairs -> global-CC path
# shuffle O(true pairs) ~ 1e9 edges; the cells backend solves
# connectivity inside the per-cell Arrow batch and shuffles O(corpus))
# ---------------------------------------------------------------------------

def _emb_with_cliques(spark, n_orig=12, n_rep=6, dim=8):
    """n_orig distinct random-ish unit vectors, each replicated n_rep
    times with a tiny deterministic jitter — the gen_scale_corpus
    replica structure in miniature: every original forms one
    near-identical clique."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for _ in range(n_orig):
        v = rng.normal(size=dim)
        v /= np.linalg.norm(v)
        for r in range(n_rep):
            j = v + (rng.normal(size=dim) * 1e-3 if r else 0.0)
            rows.append((vid, [float(x) for x in j]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _survivors(df):
    return sorted(r["vec_id"] for r in df.select("vec_id").collect())


def test_semdedup_cells_equals_pairs(spark):
    emb = _emb_with_cliques(spark)
    cents = sim.hyperplanes(8, 4, seed="cctest")
    a = _survivors(sim.semdedup(emb, cents, threshold=0.95,
                                component_backend="pairs"))
    b = _survivors(sim.semdedup(emb, cents, threshold=0.95,
                                component_backend="cells"))
    assert a == b
    assert 0 < len(b) < emb.count()


def test_semdedup_cells_chain_across_slabs(spark):
    """A cosine CHAIN (a~b, b~c, ..., but a!~c) spanning many row
    slabs: forces the min-label propagation + pointer jumping to move
    labels across slab boundaries over multiple sweeps — the case a
    clique test cannot exercise.  Verified against the pairs backend
    AND against brute-force transitive closure."""
    import math

    import numpy as np

    n = 9
    step = math.radians(14)   # cos(14°)≈0.970 >= th; cos(28°)≈0.883 < th
    rows = [(i, [float(math.cos(i * step)), float(math.sin(i * step))])
            for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0]]      # one cell: the whole chain is one component
    pairs_side = _survivors(sim.semdedup(emb, cents, threshold=0.95,
                                         component_backend="pairs"))
    # row_block=2 → the 9-node chain spans 5 slabs
    kernel = sim._cell_components_kernel(0.95, "vec_id", "embedding",
                                         block=2)
    import pandas as pd

    pdf = pd.DataFrame({"vec_id": [r[0] for r in rows],
                        "embedding": [r[1] for r in rows]})
    out = kernel(pdf)
    cells_side = sorted(set(range(n)) - set(out["node"]))
    assert pairs_side == cells_side == [0]   # one chain, min id survives


def test_semdedup_auto_routes_on_pair_volume(spark, monkeypatch):
    emb = _emb_with_cliques(spark)
    cents = sim.hyperplanes(8, 4, seed="cctest")
    baseline = _survivors(sim.semdedup(emb, cents, threshold=0.95,
                                       component_backend="pairs"))
    monkeypatch.setattr(sim, "_COMPONENT_PAIR_CAP", 10)
    routed = sim.semdedup(emb, cents, threshold=0.95)   # auto
    plan = routed._jdf.queryExecution().toString()
    assert "FlatMapGroupsInPandas" in plan   # cells kernel in the plan
    assert _survivors(routed) == baseline
    monkeypatch.setattr(sim, "_COMPONENT_PAIR_CAP", 10**18)
    unrouted = sim.semdedup(emb, cents, threshold=0.95)
    assert "FlatMapGroupsInPandas" not in \
        unrouted._jdf.queryExecution().toString()
    assert _survivors(unrouted) == baseline


def test_semdedup_cells_edge_lanes(spark):
    """Null vectors and NaN-component vectors survive the cells
    backend untouched — the same unmatchable-admit contract as the
    pairs path (null cell dropped before grouping; NaN cosine compares
    False in numpy)."""
    import math

    rows = [(0, [1.0, 0.0]), (1, [1.0, 1e-4]),        # a near-dup pair
            (2, None), (3, [float("nan"), 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = _survivors(sim.semdedup(emb, [[1.0, 0.0], [0.0, 1.0]],
                                  threshold=0.99,
                                  component_backend="cells"))
    assert out == [0, 2, 3]


def test_semdedup_cells_rejects_multiprobe(spark):
    emb = _emb_with_cliques(spark, n_orig=2, n_rep=2)
    with pytest.raises(ValueError, match="cell-local"):
        sim.semdedup(emb, sim.hyperplanes(8, 4), n_probe=2,
                     component_backend="cells")


def test_semdedup_cells_fat_cell_block_grid(spark):
    """Fat cell (member count > cell_task_cap): the cells backend
    routes through the salted block grid, each block kernel emits a
    spanning-forest star, and one global CC over the forest merges
    across blocks.  Pinned exact vs the pairs backend on a corpus
    whose ONE cell exceeds the cap — including a chain that only
    connects ACROSS salt blocks."""
    import math

    # 30-member clique + a 6-member chain, one cell, cap=8 -> t=5 grid
    rows = []
    for i in range(30):
        rows.append((i, [1.0, float(i) * 1e-5]))
    step = math.radians(14)
    for i in range(6):
        a = math.pi / 3 + i * step
        rows.append((100 + i, [float(math.cos(a)), float(math.sin(a))]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0]]
    a = _survivors(sim.semdedup(emb, cents, threshold=0.95,
                                component_backend="pairs",
                                cell_task_cap=8))
    b = _survivors(sim.semdedup(emb, cents, threshold=0.95,
                                component_backend="cells",
                                cell_task_cap=8))
    assert a == b == [0, 100]   # clique min + chain min survive


def test_semdedup_cells_dim_mismatch_lane(spark):
    """vec_dim= gives dimension-mismatched (incl. empty) vectors the
    NULL cell assign_cells guarantees — they survive instead of
    crashing the rectangular-batch Arrow kernel (review fix r10)."""
    rows = [(0, [1.0, 0.0]), (1, [1.0, 1e-4]),
            (2, [1.0]),            # wrong dim
            (3, []),               # empty
            (4, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from pyspark.sql import functions as F

    cells = sim.signlsh_bucket(F.col("embedding"), sim.hyperplanes(2, 3))
    out = _survivors(sim.semdedup(emb, None, threshold=0.99, cells=cells,
                                  vec_dim=2, component_backend="cells"))
    assert out == [0, 2, 3, 4]


def test_semdedup_cells_rejects_non_integral_cells(spark):
    emb = spark.createDataFrame([(0, [1.0, 0.0])],
                                "vec_id long, embedding array<float>")
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="integral"):
        sim.semdedup(emb, None, threshold=0.9, vec_dim=2,
                     cells=F.lit("bucket-a"), component_backend="cells")


def test_semdedup_sql_pin_beats_auto_routing(spark, monkeypatch):
    """pair_backend='sql' pins the Python-free oracle-exact path: the
    auto component routing must not swap in the kernel lane, and null
    vectors must not inflate the routing probe (review fixes r10)."""
    emb = _emb_with_cliques(spark)
    nulls = spark.createDataFrame([(1000 + i, None) for i in range(20)],
                                  emb.schema)
    both = emb.unionByName(nulls)
    cents = sim.hyperplanes(8, 4, seed="cctest")
    monkeypatch.setattr(sim, "_COMPONENT_PAIR_CAP", 10)
    pinned = sim.semdedup(both, cents, threshold=0.95, pair_backend="sql")
    assert "FlatMapGroupsInPandas" not in \
        pinned._jdf.queryExecution().toString()
    baseline = _survivors(sim.semdedup(emb, cents, threshold=0.95,
                                       component_backend="pairs"))
    assert _survivors(pinned) == sorted(
        baseline + [1000 + i for i in range(20)])
    # nulls alone must not push the probe over the cap: with only the
    # 20 null rows as "volume", auto stays on the pairs route
    monkeypatch.setattr(sim, "_COMPONENT_PAIR_CAP", 20 * 19 // 2 - 1)
    only_nulls_matter = sim.semdedup(
        nulls.unionByName(emb.limit(2)), cents, threshold=0.95)
    assert "FlatMapGroupsInPandas" not in \
        only_nulls_matter._jdf.queryExecution().toString()
