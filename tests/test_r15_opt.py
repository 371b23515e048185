"""r15 optimization internals: the bounded CC sizing probe, the
gated _cc_driver broadcast hint, the gram cache's bound and scoped
release, the tokens name form, and the per-file schema-cache
fingerprint.

These pin BEHAVIOR EQUIVALENCE of the optimized internals — the bench
queries themselves stay oracle-checked elsewhere."""

from pyspark.sql import functions as F

from fixtures import persistent_rdd_ids

import pydiverse_transform_spark as pdt
from pydiverse_transform_spark.extras import classify as cl
from pydiverse_transform_spark.extras import dedup as dd
from pydiverse_transform_spark.extras.dedup import connected_components
from pydiverse_transform_spark.extras.text import _tokens, tokens
from pydiverse_transform_spark.extras.util import render


ADVERSARIAL_DOCS = [
    (1, "  Hello  WORLD  "), (2, ""), (3, None), (4, " \t\n  "),
    (5, "a"), (6, "x y\tz\nq  r"), (7, "ümlaut ÉLAN  Mixed"),
    (8, "back\\slash 'quote' \"dq\""), (9, "..."), (10, "a  b"),
]


def _docs(spark):
    return spark.createDataFrame(ADVERSARIAL_DOCS,
                                 "doc_id long, text string")


def test_tokens_sql_mirror_matches_column_form(spark):
    """tokens(str) and the lowercased name form of the tokens spec must
    be value-identical to the Column builder on adversarial inputs."""
    rows = _docs(spark).select(
        tokens(F.col("text")).alias("c"),
        tokens("text").alias("s"),
        render(_tokens, "text", lowercase=True).alias("sl"),
        tokens(F.lower(F.col("text"))).alias("cl"),
    ).collect()
    for r in rows:
        assert r.c == r.s
        assert r.cl == r.sl


def test_cc_probe_persists_only_the_limited_relation(spark, monkeypatch):
    """The auto route's sizing probe must persist a LIMIT-bounded
    projection (cap+1 rows max), never the full pair relation (VERDICT
    r14 what's-wrong #1) — and still label identically on both
    routes with no persisted leftovers."""
    edges = [(i, i + 1) for i in range(1, 10)] + [(20, 21)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    # patch the CONCRETE class (Spark 4's classic DataFrame overrides
    # persist; patching the abstract base would miss it)
    cls = type(pairs)
    persisted = []
    orig = cls.persist

    def spy(self, *a, **k):
        persisted.append(self._jdf.queryExecution().logical().toString())
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "persist", spy)
    want = {i: 1 for i in range(1, 11)}
    want.update({20: 20, 21: 20})

    # driver route (under cap): first persist call is the probe
    before = persistent_rdd_ids(spark)
    got = {r.node: r.comp
           for r in connected_components(pairs).collect()}
    assert got == want
    assert persistent_rdd_ids(spark) - before == set()
    assert persisted and "Limit" in persisted[0]

    # distributed route (over cap): the probe is still the bounded
    # limit; the only unbounded persist is the symmetrized edge
    # relation the loop itself needs (and releases)
    persisted.clear()
    before = persistent_rdd_ids(spark)
    got = {r.node: r.comp
           for r in connected_components(
               pairs, driver_max_pairs=3).collect()}
    assert got == want
    assert len(persistent_rdd_ids(spark) - before) <= 1
    assert persisted and "Limit" in persisted[0]
    for plan in persisted[1:]:
        # every other persist in the over-cap trace is the edge
        # relation (Union of the two directions), never the raw
        # full pair projection of the probe
        assert "Union" in plan or "Limit" in plan


def test_cc_star_releases_superseded_checkpoints(spark):
    """Star-CC release parity (VERDICT r14 next #7): a multi-round
    chain graph must end with at most ONE pinned RDD beyond baseline —
    the final edge checkpoint backing the returned labels; every
    superseded round's checkpoint must be gone."""
    from pydiverse_transform_spark.extras.dedup import (
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(1, 64)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    before = persistent_rdd_ids(spark)
    rounds = []
    got = {r.node: r.comp
           for r in connected_components_star(
               pairs, _rounds_out=rounds).collect()}
    assert got == {i: 1 for i in range(1, 65)}
    assert rounds[0] >= 2  # multi-round, so releases actually ran
    assert len(persistent_rdd_ids(spark) - before) <= 1


def test_cc_driver_broadcast_hint_is_gated(spark, monkeypatch):
    """_cc_driver hints broadcast only under the row gate (ADVICE
    r14): past it the labeling frame is returned unhinted."""
    edges = [(1, 2), (2, 3), (7, 9)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    hinted = connected_components(pairs)
    plan = hinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan

    monkeypatch.setattr(dd, "_CC_BCAST_MAX_ROWS", 0)
    unhinted = connected_components(pairs)
    plan = unhinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan
    # identical labeling either way
    assert sorted((r.node, r.comp) for r in hinted.collect()) == \
        sorted((r.node, r.comp) for r in unhinted.collect())


def test_gram_cache_bounded_and_scoped_release(spark):
    """bigram_lm_train's persisted gram table: a retrain over a
    DIFFERENT corpus releases the previous cache (bounded at one), a
    same-plan retrain keeps the shared CacheManager entry, and a train
    inside ``pdt.scope()`` releases deterministically on exit (VERDICT
    r14 what's-wrong #2).  Asserted via DataFrame.storageLevel (the
    CacheManager's own view) so the test is immune to whatever other
    suite tests have pinned in the shared session."""
    import uuid

    def cached(df):
        lv = df.storageLevel
        return lv.useMemory or lv.useDisk

    # unique literal text so no other test's plan can alias these
    salt = uuid.uuid4().hex[:8]
    docs = spark.createDataFrame(
        [(i, f"{salt} w{i % 5} x{i % 3} tail{i}") for i in range(40)],
        "doc_id long, text string")
    docs2 = docs.filter(F.col("doc_id") < 20)

    g1, c1 = cl.bigram_lm_train(docs)
    cl.lm_score(docs, g1, c1).count()
    assert cached(g1)

    # same-plan retrain: the shared CacheManager entry is kept
    g1b, c1b = cl.bigram_lm_train(docs)
    assert cached(g1) and cached(g1b)

    # different-corpus retrain: the previous cache must be released
    g2, c2 = cl.bigram_lm_train(docs2)
    cl.lm_score(docs2, g2, c2).count()
    assert cached(g2)
    assert not cached(g1), "previous gram cache not released"

    # scoped: storage returns to baseline on exit, values identical;
    # the unscoped g2 is not the scope's to release
    with pdt.scope():
        g3, c3 = cl.bigram_lm_train(docs)
        scored = cl.lm_score(docs, g3, c3)
        want = sorted((r[0], r[1]) for r in scored.collect())
        assert cached(g3)
    assert not cached(g3)
    assert cached(g2)
    with pdt.scope():
        g4, c4 = cl.bigram_lm_train(docs)
        got = sorted(
            (r[0], r[1]) for r in cl.lm_score(docs, g4, c4).collect())
    assert got == want
    assert not cached(g4)
    g2.unpersist()


def test_fan_out_key_reuses_exchange_in_tfidf(spark, tmp_path):
    """fan_out(key=id) must hash-partition by the id instead of
    round-robin so the tf aggregation and per-doc window reuse the one
    exchange: the tfidf plan must carry NO exchange keyed
    (doc_id, token) — that exchange existed before r15 — and values
    must be identical to the unkeyed build."""
    from pydiverse_transform_spark.extras import text as tx
    from pydiverse_transform_spark.extras.util import fan_out

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"w{i % 7} common w{i % 3} tail{i}") for i in range(200)],
        "doc_id long, text string").write.parquet(p)
    df = spark.read.parquet(p)

    keyed = fan_out(df, key="doc_id")
    plan = keyed._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression [doc_id" in plan

    out = tx.tfidf_top_terms(df, k=2)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in phys          # the fan-out
    # the tf groupBy's own (doc_id, token) exchange is gone
    for seg in phys.split("hashpartitioning(")[1:]:
        head = seg.split(")")[0]
        assert not (head.startswith("doc_id") and "token" in head), head

    # values identical to a from-scratch computation with no fan-out
    import pyspark.sql.functions as F
    ex = df.select("doc_id",
                   F.explode(F.split(F.lower(F.trim("text")),
                                     r"\s+")).alias("token"))
    tf = ex.groupBy("doc_id", "token").count()
    got = {(r.doc_id, r.token, r.tf) for r in out.collect()}
    want_tf = {(r.doc_id, r.token): r["count"] for r in tf.collect()}
    for d, t, c in got:
        assert want_tf[(d, t)] == c


def test_semdedup_probe_driver_fold_matches_agg_fold(spark, monkeypatch):
    """The per-cell driver fold (plan-literal centroid lists) must
    route and dedup identically to the one-row aggregation fold."""
    import pydiverse_transform_spark.extras.similarity as sim

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
            for i in range(60)]
    # force duplicate clusters: pairs of identical vectors
    rows += [(100 + i, rows[i][1]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[float((c * 5 + j) % 7 - 3) for j in range(8)]
             for c in range(4)]

    kept_fold = {r.vec_id for r in sim.semdedup(
        df, cents, threshold=0.99).collect()}
    monkeypatch.setattr(sim, "_PROBE_CELL_COLLECT_CAP", 0)
    kept_agg = {r.vec_id for r in sim.semdedup(
        df, cents, threshold=0.99).collect()}
    assert kept_fold == kept_agg
    assert kept_fold  # non-trivial corpus survived


def test_span_binary_hash_lane_matches_hex(spark):
    """The internal 16-byte binary span-hash lane (r15, guide §2.3)
    must be value-identical at every public boundary: duplicate_spans
    still emits lowercase md5 hex matching a direct computation, and
    substring_dedup's sort and rescan strategies agree."""
    import hashlib

    from pydiverse_transform_spark.extras.dedup import (
        duplicate_spans,
        span_occurrences,
        substring_dedup,
    )

    docs = [
        (1, "a b c d e f g h i j the quick brown fox"),
        (2, "x y a b c d e f g h i j z"),
        (3, "a b c d e f g h i j the quick brown fox"),
        (4, ""), (5, None), (6, "short doc"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    dup = duplicate_spans(df, window=4).collect()
    assert dup  # the shared span must be found
    for r in dup:
        assert r.h == r.h.lower() and len(r.h) == 32
    # h values equal a direct python md5 over the public occurrence rows
    occ = span_occurrences(df, window=4).collect()
    by_pos = {(r.doc_id, r.pos): r.h for r in occ}
    toks = docs[0][1].split()
    want = hashlib.md5(" ".join(toks[0:4]).encode()).hexdigest()
    assert by_pos[(1, 0)] == want

    a = substring_dedup(df, window=4, dup_strategy="sort") \
        .select("doc_id", "clean_text", "n_tokens_after").collect()
    b = substring_dedup(df, window=4, dup_strategy="rescan") \
        .select("doc_id", "clean_text", "n_tokens_after").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_schema_fingerprint_detects_same_size_rename(spark, tmp_path):
    """The per-file digest must change when a file is renamed even
    though count/bytes/max-mtime stay identical (ADVICE r14: the
    aggregate triple alone could serve a stale schema after a
    same-size rewrite within one mtime tick)."""
    import os

    from pydiverse_transform_spark.sources import _local_fingerprint

    d = tmp_path / "t.parquet"
    d.mkdir()
    f1 = d / "part-0001.parquet"
    f1.write_bytes(b"x" * 64)
    fp1 = _local_fingerprint(str(d))
    assert fp1 is not None and len(fp1) == 4
    os.rename(f1, d / "part-0002.parquet")
    fp2 = _local_fingerprint(str(d))
    assert fp1[:2] == fp2[:2]      # count and bytes unchanged
    assert fp1[3] != fp2[3]        # digest sees the rename


def test_schema_fingerprint_detects_single_file_rewrite(spark, tmp_path):
    """A single-file parquet path rewritten at the same size with its
    mtime restored must not serve the cached schema: the single-file
    path gets the same per-file digest (inode, ctime) as a directory."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pydiverse_transform_spark.sources import (
        _local_fingerprint,
        spark_read_parquet,
    )

    p = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), p)
    assert spark_read_parquet(spark, p).columns == ["a"]
    st = os.stat(p)
    fp1 = _local_fingerprint(p)
    tmp = p + ".tmp"
    pq.write_table(pa.table({"b": [1, 2, 3]}), tmp)
    assert os.path.getsize(tmp) == st.st_size
    os.replace(tmp, p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(p).st_mtime_ns == st.st_mtime_ns
    assert _local_fingerprint(p) != fp1
    df = spark_read_parquet(spark, p)
    assert df.columns == ["b"]
    assert [r["b"] for r in df.orderBy("b").collect()] == [1, 2, 3]


def test_schema_cache_evicts_stopped_applications(spark, tmp_path):
    from pydiverse_transform_spark.sources import (
        _SCHEMA_CACHE,
        spark_read_parquet,
    )

    p = str(tmp_path / "t.parquet")
    spark.range(5).write.mode("overwrite").parquet(p)
    df = spark_read_parquet(spark, p)
    assert df.count() == 5
    key = (spark.sparkContext.applicationId, p)
    assert key in _SCHEMA_CACHE
    _SCHEMA_CACHE[("dead-app-id", p)] = _SCHEMA_CACHE[key]
    spark_read_parquet(spark, p)
    assert ("dead-app-id", p) not in _SCHEMA_CACHE
