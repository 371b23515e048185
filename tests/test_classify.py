"""Naive Bayes text classifier (extras/classify.py): separability on
the lang labels, determinism, and the broadcast-model plan shape."""

from pyspark.sql import functions as F

from pydiverse_transform_spark.extras import classify as cl


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_nb_separates_training_classes(spark, sf_dir):
    """English-labeled documents must score higher on average than the
    rest when trained on that very split (in-sample separability — the
    weakest property a working classifier must have)."""
    docs = _docs(spark, sf_dir)
    w = cl.nb_train(docs, F.col("lang") == "en")
    scored = cl.nb_score(docs, w).join(
        docs.select("doc_id", "lang"), "doc_id")
    means = dict(
        scored.groupBy(F.col("lang") == "en")
        .agg(F.avg("nb_score").alias("m")).collect()
    )
    assert means[True] > means[False]


def test_nb_deterministic(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = sorted(map(tuple, cl.nb_train(
        docs, F.col("lang") == "en").collect()))
    b = sorted(map(tuple, cl.nb_train(
        docs, F.col("lang") == "en").collect()))
    assert a == b and len(a) > 10


def test_nb_score_broadcasts_model(spark, sf_dir):
    """The weights table must broadcast into the scoring join — a
    shuffled join would move the 100-TB corpus for a kilobyte-scale
    model."""
    docs = _docs(spark, sf_dir)
    w = cl.nb_train(docs, F.col("lang") == "en")
    plan = cl.nb_score(docs, w)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_nb_min_doc_freq_prunes_vocab(spark):
    df = spark.createDataFrame(
        [(1, "common rare1", "en"), (2, "common", "en"),
         (3, "common rare2", "de"), (4, "common", "de")],
        "doc_id long, text string, lang string")
    full = {r["token"] for r in cl.nb_train(
        df, F.col("lang") == "en").collect()}
    pruned = {r["token"] for r in cl.nb_train(
        df, F.col("lang") == "en", min_doc_freq=2).collect()}
    assert full == {"common", "rare1", "rare2"} and pruned == {"common"}


def test_nb_empty_and_null_docs_absent(spark):
    df = spark.createDataFrame(
        [(1, "the cat", "en"), (2, "", "en"), (3, None, "de"),
         (4, "der hund", "de")],
        "doc_id long, text string, lang string")
    w = cl.nb_train(df, F.col("lang") == "en")
    ids = {r["doc_id"] for r in cl.nb_score(df, w).collect()}
    assert ids == {1, 4}


def test_lm_self_trained_scores_and_plan(spark, sf_dir):
    """Self-trained LM: every score is a negative mean log-prob,
    repeated text scores higher (more probable) than unique text, and
    both model tables broadcast into the scoring join."""
    docs = _docs(spark, sf_dir)
    grams, ctx = cl.bigram_lm_train(docs)
    scored = cl.lm_score(docs, grams, ctx)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    mx = scored.agg(F.max("lm_logprob")).collect()[0][0]
    assert mx < 0


def test_lm_prefers_in_distribution_text(spark):
    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(20)],
        "doc_id long, text string")
    grams, ctx = cl.bigram_lm_train(ref)
    probe = spark.createDataFrame(
        [(100, "the cat sat on the mat"),
         (101, "zyx qwv jkl mno pqr stu")],
        "doc_id long, text string")
    s = {r["doc_id"]: r["lm_logprob"]
         for r in cl.lm_score(probe, grams, ctx).collect()}
    assert s[100] > s[101]


def test_lm_empty_docs_absent(spark):
    ref = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, None), (4, "solo")],
        "doc_id long, text string")
    grams, ctx = cl.bigram_lm_train(ref)
    ids = {r["doc_id"] for r in cl.lm_score(ref, grams, ctx).collect()}
    # "solo" gets the <s> sentinel bigram; empty/NULL docs vanish
    assert ids == {1, 4}


def test_gram_cache_kept_when_plan_probe_raises(spark):
    """An unanswerable sameResult probe (no plan access, e.g. Spark
    Connect) must keep the previous gram cache: a same-plan retrain
    shares its CacheManager entry."""
    import uuid

    class _NoPlan:
        def __init__(self, jdf):
            self._jdf = jdf

        def queryExecution(self):
            raise RuntimeError("plan not accessible")

        def __getattr__(self, name):
            return getattr(self._jdf, name)

    def cached(df):
        lv = df.storageLevel
        return lv.useMemory or lv.useDisk

    salt = uuid.uuid4().hex[:8]
    docs = spark.createDataFrame(
        [(i, f"{salt} w{i % 5} x{i % 3}") for i in range(30)],
        "doc_id long, text string")
    g1, c1 = cl.bigram_lm_train(docs)
    cl.lm_score(docs, g1, c1).count()
    assert cached(g1)
    g1._jdf = _NoPlan(g1._jdf)
    g2, _ = cl.bigram_lm_train(docs)
    try:
        assert cached(g2), "gram cache dropped on a failed plan probe"
    finally:
        g2.unpersist()
