"""Round-14 fixes.

- Ingest dedup runs the EXISTS-semantics lane
  (:func:`dedup._probe_hits_exists`): recall-identical to the pair
  lane's ``lookup().select(probe_id).distinct()`` derivation, but the
  shuffle carries distinct probe ids (bounded by the increment) instead
  of one row per candidate PAIR (unbounded on dup-saturated indexes —
  the 230M-pair backfill wall of SCALE_BENCH_r12/r13).
- ``_spansort_spread`` degrades to a no-op when
  ``spark.sql.shuffle.partitions`` is non-numeric (r13 advice).
- ``_index_footer_rows`` returns None (not 0) for a directory with no
  band-partitioned files so the auto governor falls back to the exact
  projection instead of being silently skipped (r13 advice).
"""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fixtures import persistent_rdd_ids

from pydiverse_transform_spark.extras import dedup

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def saturated_index(spark, tmp_path_factory):
    """An index built from a dup-saturated corpus (each doc indexed
    twice under distinct ids) plus a backfill-shaped probe set."""
    base = str(tmp_path_factory.mktemp("idx") / "minhash_idx")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    # saturate: same text under a second id family -> every probe hit
    # fans out to >= 2 index pairs, so the pair lane and the exists
    # lane genuinely differ in intermediate volume
    dup = corpus.withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    dedup.write_minhash_index(corpus.unionByName(dup), base)
    probe = docs.filter(F.col("doc_id") % 3 == 0)
    return base, probe


def _pair_lane_ids(spark, base, probe, threshold, exclude=None):
    """The pre-r14 derivation: full pair lookup, optional replay
    exclusion on index_id, then distinct probe ids."""
    hits = dedup.minhash_index_lookup(spark, base, probe,
                                      threshold=threshold,
                                      governors="off")
    if exclude is not None:
        hits = hits.join(exclude, on="index_id", how="left_anti")
    return {r["probe_id"] for r in
            hits.select("probe_id").distinct().collect()}


def test_exists_lane_recall_identical(spark, saturated_index):
    base, probe = saturated_index
    meta = dedup.read_minhash_meta(spark, base)
    pb = dedup._probe_buckets(meta, probe)
    for threshold in (0.2, 0.45, 0.7):
        got = {r["probe_id"] for r in dedup._probe_hits_exists(
            spark, base, meta, pb, threshold, "broadcast").collect()}
        want = _pair_lane_ids(spark, base, probe, threshold)
        assert got == want, threshold
    assert got  # the corpus has near-dups at 0.7 — non-vacuous


def test_exists_lane_exclusion_matches_pair_lane(spark, saturated_index):
    """Streaming replay protection: excluding index ids before the
    distinct equals the pair lane's post-hoc anti-join."""
    base, probe = saturated_index
    meta = dedup.read_minhash_meta(spark, base)
    pb = dedup._probe_buckets(meta, probe)
    # exclude the duplicate id family -> only original-corpus evidence
    excl = (spark.read.parquet(base)
            .select(F.col(meta["id_col"]).alias("index_id"))
            .filter(F.col("index_id") >= 10_000_000).distinct())
    got = {r["probe_id"] for r in dedup._probe_hits_exists(
        spark, base, meta, pb, 0.45, "broadcast",
        exclude_index_ids=excl).collect()}
    want = _pair_lane_ids(spark, base, probe, 0.45, exclude=excl)
    assert got == want
    # and excluding EVERYTHING flags nobody
    all_ids = (spark.read.parquet(base)
               .select(F.col(meta["id_col"]).alias("index_id"))
               .distinct())
    none = dedup._probe_hits_exists(
        spark, base, meta, pb, 0.0, "broadcast",
        exclude_index_ids=all_ids).count()
    assert none == 0


def test_exists_lane_plan_has_no_pair_aggregate(spark, saturated_index):
    """The lane's ONLY hash aggregation keys on probe_id — no
    (probe_id, index_id) grouping, so no per-pair exchange exists for
    a dup-saturated index to blow up."""
    base, probe = saturated_index
    meta = dedup.read_minhash_meta(spark, base)
    pb = dedup._probe_buckets(meta, probe)
    plan = dedup._probe_hits_exists(
        spark, base, meta, pb, 0.45, "broadcast")._jdf \
        .queryExecution().optimizedPlan().toString()
    import re

    aggs = re.findall(r"Aggregate \[([^\]]*)\]", plan)
    assert aggs, plan
    for keys in aggs:
        assert "probe_id" in keys
        assert "index_id" not in keys


def test_filter_new_still_admits_and_filters(spark, saturated_index,
                                             tmp_path):
    """End-to-end backfill shape through the public API: survivors =
    docs with no indexed near-dup; admitted survivors then block an
    identical second backfill."""
    base0, probe = saturated_index
    # fresh copy of the index (admit mutates it)
    import shutil

    base = str(tmp_path / "idx_copy")
    shutil.copytree(base0, base)
    surv = dedup.neardup_filter_new(spark, base, probe,
                                    threshold=0.45, admit=True)
    surv_ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
    want = {r["doc_id"] for r in probe.select("doc_id").collect()} \
        - _pair_lane_ids(spark, base0, probe, 0.45)
    assert surv_ids == want
    # replay the SAME increment with shifted ids: every prior survivor
    # is now indexed, so nothing survives
    again = dedup.neardup_filter_new(
        spark, base,
        probe.withColumn("doc_id", F.col("doc_id") + F.lit(20_000_000)),
        threshold=0.45, admit=False)
    again_ids = {r["doc_id"] - 20_000_000
                 for r in again.select("doc_id").collect()}
    assert not (again_ids & {i + 20_000_000 for i in ()})
    assert not ({i for i in again_ids} & surv_ids)


def test_scoped_lookup_releases_probe_cache(spark, saturated_index):
    """Long-session lifecycle (r13 verdict item 5): N default-lane
    lookups inside ``pdt.scope()`` leave storage memory at baseline;
    results match the plain function.

    The probe carries a test-unique (no-op) filter literal so its
    bucket plan cannot alias a relation some earlier suite test
    already cached: Spark's CacheManager dedupes identical plans, and
    an unscoped lookup keeps its cache until the next lookup on a
    different probe — a full-suite run CAN legitimately arrive here
    with an identical probe-bucket entry alive, and then ``persist()``
    adds nothing.  Identity (RDD-id set difference) is what the
    contract is about: the entries the scope creates are gone when it
    exits."""
    import pydiverse_transform_spark as pdt

    base, probe = saturated_index
    probe = probe.filter(F.col("doc_id") != F.lit(-987_654_321))
    baseline = persistent_rdd_ids(spark)
    want = sorted(
        (r["probe_id"], r["index_id"]) for r in
        dedup.minhash_index_lookup(spark, base, probe, threshold=0.45,
                                   governors="off").collect())
    for _ in range(3):
        with pdt.scope():
            pairs = dedup.minhash_index_lookup(spark, base, probe,
                                               threshold=0.45)
            got = sorted((r["probe_id"], r["index_id"])
                         for r in pairs.collect())
            assert got == want
            # inside the scope the probe bucket relation is cached
            created = persistent_rdd_ids(spark) - baseline
            assert created
        # ... and every entry the scope created is released on exit
        assert not (persistent_rdd_ids(spark) & created)
    # the result stays usable (uncached recompute) after the scope
    with pdt.scope():
        pairs = dedup.minhash_index_lookup(spark, base, probe,
                                           threshold=0.45)
    assert sorted((r["probe_id"], r["index_id"])
                  for r in pairs.collect()) == want
    assert not (persistent_rdd_ids(spark) & created)


def test_spansort_spread_nonnumeric_conf_noop(monkeypatch):
    """Open-source Spark validates the conf numerically, but other
    platforms accept tokens like 'auto' — the sizing heuristic must
    skip the spread there, not raise (r13 advice)."""
    from pydiverse_transform_spark.extras import util as _util

    class _Conf:
        def get(self, k):
            return "auto"

    class _Sess:
        conf = _Conf()

    class _DF:
        sparkSession = _Sess()

    monkeypatch.setattr(_util, "plan_size_bytes", lambda df: 1 << 40)
    occ = object()
    assert dedup._spansort_spread(_DF(), occ) is occ


def test_index_footer_rows_empty_dir_is_none(tmp_path):
    d = tmp_path / "not_an_index"
    d.mkdir()
    assert dedup._index_footer_rows(str(d)) is None
    # a band dir with no parquet files is likewise not understood
    (d / "band=0").mkdir()
    assert dedup._index_footer_rows(str(d)) is None


def test_index_footer_rows_counts_real_index(spark, saturated_index):
    base, _ = saturated_index
    n = dedup._index_footer_rows(base)
    assert n == spark.read.parquet(base).count()
