"""Model-based document scoring: a binary Naive Bayes text classifier
(the cheap stand-in for the fastText-style quality classifiers real
pretraining pipelines train on 'known-good vs crawl' corpora).

Scale shapes:

- ``nb_train``: one explode of per-document DISTINCT tokens + one hash
  aggregation (map-side partial combine — shuffle volume is bounded by
  distinct tokens per task, not corpus tokens), then per-token log-odds
  against the 1-row class-count aggregate via a broadcast cross join.
  Fully lazy — no Spark job runs until the weights are consumed.
- ``nb_score``: explode + BROADCAST join against the (small) weights
  table + one hash-agg back to documents.  The corpus shuffles once on
  the doc id; the model never shuffles.

Everything is engine-reproducible: token weights round to 6 decimals
before scoring and scores round to 4, absorbing the <=1-ulp
natural-log and float-sum-order differences between engines, so a SQL
oracle can replay training AND scoring exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..storage import hold

__all__ = ["nb_train", "nb_score", "bigram_lm_train", "lm_score"]


def _doc_tokens(df: DataFrame, text_col: str) -> Column:
    """Per-document distinct lowercase tokens (binarized/Bernoulli
    counting — robust to token repetition spam).  One-SQL-parse
    tokenizer (r15, VERDICT r14 next #5)."""
    from .text import _tokens
    from .util import render

    return F.array_distinct(render(_tokens, text_col, lowercase=True))


def nb_train(df: DataFrame, label: Column, text_col: str = "text",
             smoothing: float = 0.5, min_doc_freq: int = 1) -> DataFrame:
    """Train binary Naive Bayes token weights: for each token,
    ``round(ln((df_pos + s) / (n_pos + 2s)) - ln((df_neg + s) /
    (n_neg + 2s)), 6)`` where ``df_±`` are document frequencies of the
    token in each class and ``n_±`` the class sizes (Laplace
    smoothing ``s``).  Returns a (token, weight) DataFrame — small
    (the vocabulary), broadcastable into :func:`nb_score`.

    ``label`` is any boolean Column over ``df``'s columns (e.g.
    ``F.col("lang") == "en"``).  Rows where it is NULL are dropped."""
    labeled = (
        df.withColumn("__y", label.cast("boolean"))
        .filter(F.col("__y").isNotNull())
        .withColumn("__toks", _doc_tokens(df, text_col))
    )
    class_counts = labeled.agg(
        F.sum(F.col("__y").cast("long")).alias("n_pos"),
        F.sum((~F.col("__y")).cast("long")).alias("n_neg"),
    )
    tok = labeled.select(
        F.explode(F.col("__toks")).alias("token"), "__y"
    ).filter(F.col("token") != "")
    counts = tok.groupBy("token").agg(
        F.sum(F.col("__y").cast("long")).alias("df_pos"),
        F.sum((~F.col("__y")).cast("long")).alias("df_neg"),
    ).filter((F.col("df_pos") + F.col("df_neg")) >= min_doc_freq)
    s = float(smoothing)
    return counts.crossJoin(F.broadcast(class_counts)).select(
        "token",
        F.round(
            F.log((F.col("df_pos") + s)
                  / (F.col("n_pos") + 2 * s))
            - F.log((F.col("df_neg") + s)
                    / (F.col("n_neg") + 2 * s)),
            6,
        ).alias("weight"),
    )


def nb_score(df: DataFrame, weights: DataFrame, text_col: str = "text",
             id_col: str = "doc_id",
             score_col: str = "nb_score") -> DataFrame:
    """Score documents with trained weights: sum of the weights of the
    document's distinct tokens (absent tokens contribute 0), rounded
    to 4 decimals.  Positive = looks like the positive class.

    Returns (id, score) — join back on the id to attach it.  The
    weights broadcast; the only shuffle is the per-document sum."""
    tok = (
        df.select(F.col(id_col), _doc_tokens(df, text_col).alias("__toks"))
        .select(F.col(id_col), F.explode("__toks").alias("token"))
        .filter(F.col("token") != "")
    )
    joined = tok.join(F.broadcast(weights), "token", "left")
    return (
        joined.groupBy(id_col)
        .agg(F.round(F.sum(F.coalesce(F.col("weight"), F.lit(0.0))), 4)
             .alias(score_col))
    )


def _doc_bigrams(text_col: str) -> Column:
    """Per-document bigram array '<w1> <w2>' over lowercase whitespace
    tokens, with an <s> start sentinel so one-token documents still
    produce one bigram (KenLM-style contexts, k=2).

    The token array is LAMBDA-BOUND (transform over a single-element
    struct array) before the bigram zip: a naive
    ``transform(sequence(1, n-1), i -> element_at(toks, i) ...)``
    captures `toks` as an unevaluated subexpression and re-tokenizes
    the document for EVERY position — O(n_words^2) regexp splits per
    doc, measured 27 s/pass on the 5k-doc corpus vs ~1 s bound."""
    from .text import _tokens
    from .util import bind, render

    toks = F.concat(
        F.array(F.lit("<s>")), render(_tokens, text_col, lowercase=True)
    )

    def bigrams(t: Column) -> Column:
        n = F.array_size(t)
        # n==1 (empty doc + sentinel) => zero-length slices => []
        return F.zip_with(
            F.slice(t, F.lit(1), n - 1), F.slice(t, F.lit(2), n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )

    return bind(toks, bigrams)


def bigram_lm_train(df: DataFrame, text_col: str = "text"
                    ) -> tuple[DataFrame, DataFrame]:
    """Count-based bigram language model over a reference corpus (the
    KenLM-perplexity stand-in real pipelines use to keep text that
    'reads like' the reference): returns (bigram_counts, context_counts)
    DataFrames — ('w1 w2', count) and (w1, count, vocab-size scalar
    folded in at scoring).  Two map-side-combined hash aggregations
    over one explode each; both outputs are vocabulary-sized.

    The gram table is persisted so ``ctx`` and ``lm_score``'s two
    broadcasts share ONE corpus tokenize pass.  Inside
    :func:`pydiverse_transform_spark.scope` the cache is released when
    the scope exits; outside one, the next ``bigram_lm_train`` on a
    different corpus releases it (same-corpus retrains share it)."""
    from pyspark.storagelevel import StorageLevel

    # persist the VOCABULARY-sized gram table: ctx below (and the
    # separate broadcast builds in lm_score) would otherwise each
    # re-run the corpus tokenize+explode+agg — the dominant cost
    # (r14, guide §2.4/§5: q_lm_perplexity's plan showed the corpus
    # scanned+bigrammed twice just for training).  Lazy (no job
    # here); vocab-sized, so the cache cost is negligible at any
    # corpus scale while the saved pass is a full corpus scan.
    grams = hold(
        df.select(F.explode(_doc_bigrams(text_col)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_bigram")),
        "bigram_lm_train", StorageLevel.MEMORY_AND_DISK)
    ctx = (
        grams.withColumn("w1", F.split(F.col("bigram"), " ")[0])
        .groupBy("w1")
        .agg(F.sum("n_bigram").alias("n_ctx"))
    )
    return grams, ctx


def lm_score(df: DataFrame, bigrams: DataFrame, contexts: DataFrame,
             text_col: str = "text", id_col: str = "doc_id",
             alpha: float = 0.5, vocab_size: int = 65536,
             score_col: str = "lm_logprob") -> DataFrame:
    """Average per-bigram log-probability under the trained model with
    additive smoothing: mean of ``round(ln((c(w1 w2) + a) / (c(w1) +
    a*V)), 6)`` over the document's bigrams, rounded to 4 — higher
    (less negative) = more like the reference corpus.  Exactly the
    shape of a perplexity gate: threshold it or feed it to
    ``filter_by_quantile``.

    Both model tables broadcast (vocabulary-sized); the corpus
    shuffles once for the per-document mean.  Documents with no
    bigrams (empty/NULL) are absent from the output."""
    ex = (
        df.select(F.col(id_col),
                  F.explode(_doc_bigrams(text_col)).alias("bigram"))
        .withColumn("w1", F.split(F.col("bigram"), " ")[0])
    )
    a = float(alpha)
    joined = (
        ex.join(F.broadcast(bigrams), "bigram", "left")
        .join(F.broadcast(contexts), "w1", "left")
    )
    logp = F.round(
        F.log((F.coalesce(F.col("n_bigram"), F.lit(0)) + a)
              / (F.coalesce(F.col("n_ctx"), F.lit(0))
                 + a * float(vocab_size))),
        6,
    )
    return (
        joined.groupBy(id_col)
        .agg(F.round(F.avg(logp), 4).alias(score_col))
    )
