"""Storage lifecycle: every cache the package creates has an owner.

- a ``hold`` site called inside ``pdt.scope()`` leaves nothing it
  created cached after the scope exits, and its result is unchanged;
- outside a scope each site keeps at most one live cache;
- an exception inside a call releases the call's own intermediates;
- an end-to-end dedup releases its pair caches once their last
  reader, connected components, has run;
- raw ``persist``/``cache``/``unpersist`` calls exist only in the
  lifecycle module, ``verbs.collect`` and ``dedup._release_cut``.
"""

from __future__ import annotations

import ast
import itertools
import pathlib
import sys
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from fixtures import persistent_rdd_ids

import pydiverse_transform_spark as pdt
from pydiverse_transform_spark.extras import classify as cl
from pydiverse_transform_spark.extras import dedup
from pydiverse_transform_spark.extras import similarity as sim
from pydiverse_transform_spark.extras import text as tx

# filter literals no other test uses, so no input plan here aliases a
# relation another test cached (the CacheManager dedupes equal plans)
_TAGS = itertools.count(uuid.uuid4().int % 10**9 + 10**9)


def _docs(spark, sf_dir, tag):
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") != F.lit(-tag)))


def _emb(spark, sf_dir, tag):
    return (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("vec_id") != F.lit(-tag)))


def _lm(spark, sf_dir, index, tag):
    docs = _docs(spark, sf_dir, tag)
    return cl.lm_score(docs, *cl.bigram_lm_train(docs))


def _lookup(spark, sf_dir, index, tag):
    probe = _docs(spark, sf_dir, tag).filter(F.col("doc_id") % 4 == 0)
    return dedup.minhash_index_lookup(spark, index, probe, threshold=0.2)


def _lsh(spark, sf_dir, index, tag):
    return dedup.lsh_candidate_pairs(_docs(spark, sf_dir, tag))


def _minhash(persist_shingles):
    def build(spark, sf_dir, index, tag):
        return dedup.minhash_dedup_pairs(
            _docs(spark, sf_dir, tag), threshold=0.2,
            persist_shingles=persist_shingles)
    return build


def _bloom(spark, sf_dir, index, tag):
    docs = _docs(spark, sf_dir, tag)
    return dedup.contaminated_ids(
        docs, docs.filter(F.col("doc_id") < 40), method="bloom")


def _segments(spark, sf_dir, index, tag):
    return tx.remove_repeated_segments(_docs(spark, sf_dir, tag),
                                       persist_segments=True)


def _semdedup_pairs(n_probe):
    def build(spark, sf_dir, index, tag):
        return sim.semdedup_pairs(
            _emb(spark, sf_dir, tag), sim.hyperplanes(64, 16, seed="life"),
            threshold=0.4, persist_celled=True, assign_method="literal",
            n_probe=n_probe, cell_task_cap=None)
    return build


# caller -> (builder, number of hold sites one call persists)
SITES = {
    "bigram_lm_train": (_lm, 1),
    "minhash_index_lookup": (_lookup, 1),
    "lsh_candidate_pairs": (_lsh, 1),
    "minhash_dedup_pairs[persist_shingles]": (_minhash(True), 2),
    "minhash_dedup_pairs[candidates]": (_minhash(False), 3),
    "contaminated_ids[bloom]": (_bloom, 1),
    "remove_repeated_segments": (_segments, 1),
    "semdedup_pairs[n_probe=1]": (_semdedup_pairs(1), 1),
    "semdedup_pairs[n_probe=2]": (_semdedup_pairs(2), 1),
}


@pytest.fixture(scope="module")
def lookup_index(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lifecycle") / "mh_idx")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dedup.write_minhash_index(docs.filter(F.col("doc_id") % 4 != 0), path)
    return path


def _cached(df) -> bool:
    lv = df.storageLevel
    return lv.useMemory or lv.useDisk


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("site", list(SITES))
def test_scope_releases_every_hold(spark, sf_dir, lookup_index, site,
                                   monkeypatch):
    """Every cache a hold site makes inside ``pdt.scope()`` is gone
    after it: RDD ids and CacheManager entries alike."""
    from pydiverse_transform_spark import storage

    build, n_sites = SITES[site]
    handles = []
    real_hold = storage.hold

    def spy(df, *args, **kwargs):
        handles.append(real_hold(df, *args, **kwargs))
        return handles[-1]

    for mod in (storage, cl, dedup, sim):
        monkeypatch.setattr(mod, "hold", spy)
    tag = next(_TAGS)
    before = persistent_rdd_ids(spark)
    with pdt.scope():
        out = build(spark, sf_dir, lookup_index, tag)
        inside = _rows(out)
        created = persistent_rdd_ids(spark) - before
        assert len(handles) == n_sites
        assert created and all(_cached(h) for h in handles)
    # neither the RDDs nor the CacheManager entries outlive the scope
    assert not (persistent_rdd_ids(spark) & created)
    assert not any(_cached(h) for h in handles)
    # consumed after the scope, the result recomputes (no cache left,
    # as an unscoped result whose cache was released) to the same rows
    assert _rows(out) == inside


@pytest.mark.parametrize("site", [s for s in SITES
                                  if s != "semdedup_pairs[n_probe=2]"])
def test_unscoped_holds_bounded_per_site(spark, sf_dir, lookup_index,
                                         site):
    """Two unscoped calls on different inputs leave at most one live
    cache per hold site: the second call releases the first's.  (The
    multi-probe semdedup_pairs lane holds at the same site as the
    single-probe one.)"""
    build, n_sites = SITES[site]
    before = persistent_rdd_ids(spark)
    for _ in range(2):
        build(spark, sf_dir, lookup_index, next(_TAGS)).collect()
    assert len(persistent_rdd_ids(spark) - before) <= n_sites


def _semdedup_multiprobe(spark, sf_dir, tag):
    return sim.semdedup(_emb(spark, sf_dir, tag), sim.hyperplanes(64, 16),
                        threshold=0.4, n_probe=2)


def _neardup_dedup(spark, sf_dir, tag):
    return dedup.neardup_dedup(_docs(spark, sf_dir, tag), threshold=0.2)


@pytest.mark.parametrize("dedupe", [_semdedup_multiprobe, _neardup_dedup],
                         ids=["semdedup[n_probe=2]", "neardup_dedup"])
def test_dedup_releases_pair_holds_after_cc(spark, sf_dir, dedupe):
    """The pair relation's last reader is the eager
    connected_components, whose result is driver rows or checkpointed
    labels, so nothing the pair build held outlives the call — and
    the result, read after it, still computes."""
    tag = next(_TAGS)
    before = persistent_rdd_ids(spark)
    out = dedupe(spark, sf_dir, tag)
    assert persistent_rdd_ids(spark) - before == set()
    assert 0 < out.count()


def test_cc_exception_releases_edge_cache(spark, monkeypatch):
    """The distributed loop's edge cache is released when the loop
    raises (here: in its first lineage cut, after the cut's job)."""
    tag = next(_TAGS)
    pairs = spark.createDataFrame([(tag, tag + 1), (tag + 1, tag + 2)],
                                  "id_a long, id_b long")

    def boom(df):
        df.count()  # the cut's job runs, materializing the edge cache,
        raise RuntimeError("cut failed")  # and then fails

    monkeypatch.setattr(dedup, "_cut", boom)
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="cut failed"):
        dedup.connected_components(pairs, strategy="distributed")
    assert persistent_rdd_ids(spark) - before == set()


# (method, file, function) allowed to call persist/cache/unpersist
# directly outside the lifecycle module: the user's own pin, and the
# release of a superseded local checkpoint (no cache handle reaches it)
_RAW_STORAGE_ALLOWED = {
    ("persist", "operators/verbs.py", "collect"),
    ("unpersist", "extras/dedup.py", "_release_cut"),
}


class _RawStorageCalls(ast.NodeVisitor):
    """(method, file, innermost function) of every persist/cache/
    unpersist call, except ``own.persist`` on an ``owned()`` handle."""

    def __init__(self, rel):
        self.rel, self.fn, self.owned, self.found = rel, "<module>", set(), []

    def visit_FunctionDef(self, node):
        outer, self.fn = self.fn, node.name
        self.generic_visit(node)
        self.fn = outer

    def visit_With(self, node):
        for item in node.items:
            ctx = item.context_expr
            if (isinstance(ctx, ast.Call)
                    and getattr(ctx.func, "id", None) == "owned"
                    and isinstance(item.optional_vars, ast.Name)):
                self.owned.add(item.optional_vars.id)
        self.generic_visit(node)

    def visit_Call(self, node):
        f = node.func
        if (isinstance(f, ast.Attribute)
                and f.attr in ("persist", "cache", "unpersist")
                and not (f.attr == "persist"
                         and isinstance(f.value, ast.Name)
                         and f.value.id in self.owned)):
            self.found.append((f.attr, self.rel, self.fn))
        self.generic_visit(node)


def _raw_storage_calls():
    root = pathlib.Path(pdt.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel != "storage.py":
            scan = _RawStorageCalls(rel)
            scan.visit(ast.parse(path.read_text()))
            found += scan.found
    return found


def test_raw_storage_calls_only_in_lifecycle_module():
    calls = _raw_storage_calls()
    # each allowed site is really there (the scan is not vacuous) ...
    assert _RAW_STORAGE_ALLOWED <= set(calls)
    # ... and nothing else calls persist/cache/unpersist directly
    assert set(calls) - _RAW_STORAGE_ALLOWED == set()


class _FakeDF:
    """Just enough of a DataFrame for ``hold``: persist/unpersist and
    a plan whose sameResult compares a key."""

    class _Plan:
        def __init__(self, key):
            self.key = key

        def queryExecution(self):
            return self

        def analyzed(self):
            return self

        def sameResult(self, other):
            return self.key == other.key

    def __init__(self, key, sc):
        self._jdf = self._Plan(key)
        self.sparkSession = type("S", (), {"sparkContext": sc})()
        self.live = False

    def persist(self, *level):
        self.live = True
        return self

    def unpersist(self):
        self.live = False
        return self


def test_hold_registry_keeps_one_handle_under_threads(monkeypatch):
    """foreachBatch callbacks hold from other threads: with every call
    on a different plan, exactly one handle per site stays live."""
    from pydiverse_transform_spark import storage

    monkeypatch.setattr(storage, "_HELD", {})
    sc = object()
    frames = [_FakeDF(i, sc) for i in range(2000)]
    chunks = [frames[i::16] for i in range(16)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(
            target=lambda c=c: [storage.hold(f, "site") for f in c])
            for c in chunks]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    live = [f for f in frames if f.live]
    assert live == [storage._HELD["site"][1]]


def test_scope_nests_and_owns_only_its_holds(monkeypatch):
    from pydiverse_transform_spark import storage

    monkeypatch.setattr(storage, "_HELD", {})
    sc = object()
    a, b, c = (_FakeDF(i, sc) for i in range(3))
    with pdt.scope():
        storage.hold(a, "site")
        with pdt.scope():
            storage.hold(b, "site")
        assert a.live and not b.live
        with pytest.raises(ValueError):
            with pdt.scope():
                storage.hold(c, "site")
                raise ValueError
        assert not c.live
    assert not a.live
    # nothing held in a scope entered the unscoped registry
    assert storage._HELD == {}
