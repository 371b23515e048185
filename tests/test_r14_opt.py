"""r14 optimization internals: lit_num_array literal folding and the
connected_components persist-probe (replacing the executeTake ramp).

These pin BEHAVIOR EQUIVALENCE of the optimized internals — the bench
queries themselves stay oracle-checked elsewhere."""

import math

from pyspark.sql import functions as F

from fixtures import persistent_rdd_ids

from pydiverse_transform_spark.extras.dedup import connected_components
from pydiverse_transform_spark.extras.util import lit_num_array

DOUBLE_SPECIALS = [
    0.0, -0.0, 1.0, -1.0, math.pi, -math.pi,
    1e-308, -1e-308, 5e-324, 1.7976931348623157e308,
    float("nan"), float("inf"), float("-inf"),
    0.1, 1 / 3, 2.5000000000000004, -123456789.123456789,
]


def _eval_array(spark, col):
    return spark.range(1).select(col.alias("a")).first()["a"]


def test_lit_num_array_double_bit_identity(spark):
    got = _eval_array(spark, lit_num_array(DOUBLE_SPECIALS, "double"))
    want = _eval_array(
        spark, F.array(*[F.lit(float(v)) for v in DOUBLE_SPECIALS]))
    assert len(got) == len(want) == len(DOUBLE_SPECIALS)
    for g, w in zip(got, want):
        # bit-identity including NaN and signed zero
        assert math.copysign(1.0, g) == math.copysign(1.0, w) \
            if g == 0 else True
        assert (math.isnan(g) and math.isnan(w)) or g == w


def test_lit_num_array_bigint_identity(spark):
    vals = [0, 1, -1, 2**62, -(2**62), 123456789012345678]
    got = _eval_array(spark, lit_num_array(vals, "bigint"))
    want = _eval_array(spark, F.array(*[F.lit(v) for v in vals]))
    assert got == want == vals


def test_lit_num_array_empty_is_typed(spark):
    df = spark.range(1).select(lit_num_array([], "double").alias("a"))
    assert df.schema["a"].dataType.simpleString() == "array<double>"
    assert df.first()["a"] == []


def test_lit_num_array_constant_folds(spark):
    """The split+cast form must collapse to a genuine array Literal in
    the optimized plan (the whole point: executors never run split)."""
    df = spark.range(1).select(
        lit_num_array([1.5, 2.5, float("nan")], "double").alias("a"))
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "split(" not in opt.lower()


def test_sql_text_mirrors_match_column_forms(spark):
    """The one-SQL-parse name forms (shingles, base hash, signature
    fold, hashed n-gram buckets, importance weight, kmeans/ivf cell)
    must be value-identical to the Column-built forms on adversarial
    inputs (nulls, empties, whitespace runs, backslashes, quotes,
    unicode)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import similarity as sim
    from pydiverse_transform_spark.extras.dedup import (
        char_shingles,
        minhash_signature_array,
        shingle_base_hash,
        word_shingles,
    )

    texts = [None, "", "   ", "a", "a b", "  a\t\tb\nc  ", "a'b\\c",
             "x " * 40, "ünïcode  wörds hére", "tab\tsep\ttoks",
             'quo"te `tick` $dollar', "\\s+ literal backslash s plus"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string")
    for k in (1, 3):
        a = df.select("id", word_shingles(F.col("text"), k).alias("v"))
        b = df.select("id", word_shingles("text", k).alias("v"))
        assert (a.collect() == b.collect())
    for k in (2, 5):
        a = df.select("id", char_shingles(F.col("text"), k).alias("v"))
        b = df.select("id", char_shingles("text", k).alias("v"))
        assert (a.collect() == b.collect())
    sh = df.select("id", word_shingles("text", 3).alias("sh"))
    a = sh.select("id", shingle_base_hash(F.col("sh")).alias("v"))
    b = sh.select("id", shingle_base_hash("sh").alias("v"))
    assert a.collect() == b.collect()
    bh = sh.select("id", shingle_base_hash("sh").alias("bh"))
    a = bh.select("id", minhash_signature_array(F.col("bh"), 16).alias("v"))
    b = bh.select("id", minhash_signature_array("bh", 16).alias("v"))
    assert a.collect() == b.collect()

    from pydiverse_transform_spark.extras.importance import (
        hashed_ngram_buckets,
        importance_weight,
    )

    for bg in (True, False):
        a = df.select(
            "id", hashed_ngram_buckets(F.col("text"), 64, bg).alias("v"))
        b = df.select(
            "id", hashed_ngram_buckets("text", 64, bg).alias("v"))
        assert a.collect() == b.collect()
    lut = [0.25 * i - 3.0 for i in range(64)]
    a = df.select("id", importance_weight(F.col("text"), lut).alias("v"))
    b = df.select("id", importance_weight("text", lut).alias("v"))
    assert a.collect() == b.collect()

    vecs = [(0, None), (1, [0.5] * 8), (2, [float("nan")] * 8),
            (3, [1.0, -1.0, 0.0, 2.5, -3.5, 4.0, 0.25, -0.125]),
            (4, [1.0] * 5)]
    vdf = spark.createDataFrame(vecs, "id long, v array<double>")
    cents = sim.hyperplanes(8, 6, seed="r14ab")
    a = vdf.select("id", sim.kmeans_cell(F.col("v"), cents).alias("c"))
    b = vdf.select("id", sim.kmeans_cell("v", cents).alias("c"))
    assert a.collect() == b.collect()
    a = vdf.select("id", sim.ivf_cell(F.col("v"), cents).alias("c"))
    b = vdf.select("id", sim.ivf_cell("v", cents).alias("c"))
    assert a.collect() == b.collect()


def test_schema_memoized_read_matches_and_invalidates(spark, tmp_path):
    """spark_read_parquet must return frames identical to plain reads,
    reuse the inferred schema on a second read, and re-infer after the
    files change (fingerprint invalidation)."""
    from pydiverse_transform_spark.sources import (
        _SCHEMA_CACHE,
        spark_read_parquet,
    )

    p = str(tmp_path / "t.parquet")
    spark.range(10).selectExpr("id", "cast(id as string) s") \
        .write.mode("overwrite").parquet(p)
    plain = spark.read.parquet(p)
    a = spark_read_parquet(spark, p)   # infers + caches
    b = spark_read_parquet(spark, p)   # schema-pinned
    assert plain.schema == a.schema == b.schema
    assert sorted(r.id for r in b.collect()) == list(range(10))
    key = (spark.sparkContext.applicationId, p)
    assert key in _SCHEMA_CACHE
    fp1 = _SCHEMA_CACHE[key][0]
    # rewrite with a DIFFERENT schema — the fingerprint must invalidate
    import time as _time
    _time.sleep(0.01)
    spark.range(5).selectExpr("id", "id * 2 as d") \
        .write.mode("overwrite").parquet(p)
    c = spark_read_parquet(spark, p)
    assert c.schema == spark.read.parquet(p).schema
    assert set(c.columns) == {"id", "d"}
    assert _SCHEMA_CACHE[key][0] != fp1


def test_cc_edge_bound_skips_probe_identically(spark):
    """A caller-proven edge bound must yield the same labeling as the
    probed auto route, with no persisted leftovers."""
    edges = [(i, i + 1) for i in range(1, 10)] + [(20, 21)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {r.node: r.comp for r in connected_components(pairs).collect()}
    before = persistent_rdd_ids(spark)
    rounds = []
    got = {r.node: r.comp
           for r in connected_components(
               pairs, _edge_bound=len(edges),
               _rounds_out=rounds).collect()}
    assert got == want and rounds == [0]
    assert persistent_rdd_ids(spark) - before == set()
    # a bound ABOVE the cap must fall back to the probed route
    got = {r.node: r.comp
           for r in connected_components(
               pairs, _edge_bound=10**9).collect()}
    assert got == want


def test_cc_probe_unpersists_both_routes(spark):
    """The auto strategy's persist+count probe must release its cache on
    every route (driver, distributed) and label identically."""
    edges = [(i, i + 1) for i in range(1, 10)] + [(20, 21)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {i: 1 for i in range(1, 11)}
    want.update({20: 20, 21: 20})

    before = persistent_rdd_ids(spark)
    got = {r.node: r.comp
           for r in connected_components(pairs).collect()}
    assert got == want
    assert persistent_rdd_ids(spark) - before == set()

    # distributed route: force it by shrinking the driver cap.  Only
    # the RETURNED frame's backing checkpoint may remain — the probe
    # cache, the edge cache and every superseded round's checkpoint
    # must be gone (r14 per-round release).
    before = persistent_rdd_ids(spark)
    got = {r.node: r.comp
           for r in connected_components(
               pairs, driver_max_pairs=3).collect()}
    assert got == want
    assert len(persistent_rdd_ids(spark) - before) <= 1
