"""Data-selection by importance: DSIR-style hashed-n-gram importance
weighting (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling") and temperature-scaled source mixing (the
multilingual-sampling recipe of Conneau & Lample 2019).

Everything is engine-portable by construction — md5 bucket hashing, a
deterministic hash-Gumbel for sampling, explicit Laplace smoothing — so
every selection is replayable as plain SQL and stable across engines,
partitionings and reruns (the same contract as ``extras/sampling.py``).

Scale shape (100 TB):

- featurization is a pure per-row expression (one tokenization, grams
  and buckets as array ops);
- distribution estimation shuffles AT MOST ``n_buckets`` rows per task
  (hash-aggregate with map-side combine), then ``n_buckets`` rows fold
  into a driver-side list — the same bounded model-fit cycle as
  ``classify.nb_train``;
- scoring is map-only: the log-ratio table rides the plan as a literal
  array (lambda-bound, one lookup per gram instance), no join and no
  shuffle;
- selection is Gumbel top-k — exactly sampling-without-replacement
  with probability proportional to exp(weight) (Efraimidis & Spirakis
  2006 / the Gumbel-max trick), implemented as ONE TakeOrdered (global)
  or one rank-filter shuffle (per-group).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hashed_ngram_buckets",
    "bucket_counts",
    "log_ratio_table",
    "importance_weight",
    "dsir_fit",
    "dsir_score",
    "dsir_weights",
    "gumbel_topk",
    "temperature_mix_rates",
    "temperature_mix",
]


def _hashed_ngram_buckets(f, text, n_buckets: int, bigrams: bool):
    from .text import _words
    from .util import bind

    def bucket(gram):
        return (f.conv(f.substring(f.md5(gram), 1, 8), 16, 10)
                .cast("long") % f.lit(n_buckets))

    def build(toks):
        unis = f.transform(toks, bucket)
        if not bigrams:
            return unis
        n = f.size(toks)
        bis = f.transform(
            f.slice(toks, 1, f.greatest(n - 1, f.lit(0))),
            lambda w, i: bucket(
                f.concat(w, f.lit(" "), f.element_at(toks, i + 2))
            ),
        )
        return f.concat(unis, bis)

    return bind(_words(f, text), build, f)


def hashed_ngram_buckets(text: Column | str, n_buckets: int = 4096,
                         bigrams: bool = True) -> Column:
    """Array of hashed-n-gram bucket ids (one entry per gram INSTANCE):
    unigrams plus, by default, space-joined bigrams, each hashed with
    ``md5`` into ``n_buckets`` buckets — DSIR's bag-of-hashed-ngrams
    featurization, reproducible in any engine with md5.

    Pure Catalyst expressions; the token array is lambda-bound so the
    bigram builder reads ONE tokenization (the r5 ``bind()``
    discipline — an unbound captured split re-tokenizes per gram).
    A ``str`` argument is a column NAME (one-SQL-parse form, r14)."""
    from .util import render

    return render(_hashed_ngram_buckets, text, n_buckets, bigrams)


def bucket_counts(df: DataFrame, text_col: str = "text",
                  n_buckets: int = 4096,
                  bigrams: bool = True) -> list[int]:
    """Gram-instance counts per bucket over a corpus, as a dense Python
    list of length ``n_buckets`` (missing buckets 0).

    One explode + hash-aggregate on the bucket id: map-side combine
    caps the shuffle at ``n_buckets`` rows per task, and the collect
    folds ``n_buckets`` rows to the driver — independent of corpus
    size, the standard distributed model-fit shape."""
    from .util import fan_out

    ex = fan_out(df).select(
        F.explode(
            hashed_ngram_buckets(text_col, n_buckets, bigrams)
        ).alias("b")
    )
    rows = ex.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()
    out = [0] * n_buckets
    for r in rows:
        out[int(r["b"])] = int(r["n"])
    return out


def log_ratio_table(target_counts: list[int],
                    raw_counts: list[int]) -> list[float]:
    """Per-bucket log importance ratio ``ln p_target(b) - ln p_raw(b)``
    with add-one (Laplace) smoothing — the DSIR scoring table.  Plain
    Python on two B-length lists; embed the result as a literal LUT."""
    if len(target_counts) != len(raw_counts):
        raise ValueError("count tables must have the same length")
    b = len(target_counts)
    t_total = sum(target_counts) + b
    r_total = sum(raw_counts) + b
    return [
        math.log((t + 1) / t_total) - math.log((r + 1) / r_total)
        for t, r in zip(target_counts, raw_counts)
    ]


def importance_weight(text: Column | str, log_ratios: list[float],
                      n_buckets: int | None = None,
                      bigrams: bool = True) -> Column:
    """Document importance weight: the sum over the document's gram
    instances of the bucket's log ratio.  The LUT is a literal array in
    the plan — scoring is map-only (one lookup + one add per gram),
    zero joins, zero shuffles; same broadcast-model shape as
    ``classify.lm_score`` but without even the broadcast."""
    from .util import render

    n_buckets = n_buckets or len(log_ratios)
    if n_buckets != len(log_ratios):
        raise ValueError(
            f"n_buckets={n_buckets} != len(log_ratios)={len(log_ratios)}")
    return render(_importance_weight, text, log_ratios, n_buckets, bigrams)


def _importance_weight(f, text, log_ratios: list[float], n_buckets: int,
                       bigrams: bool):
    from .util import bind, lit_num_array

    # one foldable literal instead of a 4096-child CreateArray: the
    # per-build analyzer walk of the element-wise form dominated
    # q_dsir_sample's bench row (r14, util.lit_num_array docstring)
    lut = lit_num_array(log_ratios, "double", f)
    return bind(
        _hashed_ngram_buckets(f, text, n_buckets, bigrams),
        lambda bs: f.aggregate(
            bs, f.lit(0.0),
            lambda acc, b: acc + f.element_at(lut, b.cast("int") + 1),
        ),
        f,
    )


def dsir_fit(df: DataFrame, target: DataFrame | Column,
             text_col: str = "text",
             n_buckets: int = 4096, bigrams: bool = True) -> dict:
    """FIT the DSIR importance model and return it as a plain
    JSON-serializable dict ``{"format": "dsir/1", "n_buckets",
    "bigrams", "log_ratios"}`` — the fit/apply split (r6 verdict #4):
    the two corpus scans of distribution estimation are paid ONCE here,
    and :func:`dsir_score` applies the resulting LUT map-only to any
    number of batches/shards afterwards.  Persist the dict next to the
    pipeline config and every downstream stage scores without refit.

    ``target`` is either a separate DataFrame (two bounded model-fit
    passes — the general cross-corpus form) or a boolean Column over
    ``df``'s rows (e.g. ``F.col("lang") == "en"``): then BOTH
    distributions come from ONE tokenization pass — the raw count per
    bucket plus a conditional count for the target subset ride the same
    hash-aggregate, halving the training scan."""
    if isinstance(target, Column):
        from .util import fan_out

        ex = fan_out(df).select(
            F.explode(
                hashed_ngram_buckets(text_col, n_buckets, bigrams)
            ).alias("b"),
            target.alias("__t"),
        )
        rows = ex.groupBy("b").agg(
            F.count(F.lit(1)).alias("r"),
            F.count_if(F.col("__t")).alias("t"),
        ).collect()
        t_counts = [0] * n_buckets
        r_counts = [0] * n_buckets
        for row in rows:
            r_counts[int(row["b"])] = int(row["r"])
            t_counts[int(row["b"])] = int(row["t"])
    else:
        t_counts = bucket_counts(target, text_col, n_buckets, bigrams)
        r_counts = bucket_counts(df, text_col, n_buckets, bigrams)
    return {
        "format": "dsir/1",
        "n_buckets": n_buckets,
        "bigrams": bigrams,
        "log_ratios": log_ratio_table(t_counts, r_counts),
    }


def dsir_score(df: DataFrame, model: dict, text_col: str = "text",
               weight_col: str = "dsir_weight") -> DataFrame:
    """APPLY a fitted :func:`dsir_fit` model: attach the per-document
    log-likelihood-ratio weight.  Map-only — the LUT rides the plan as
    a literal array, zero joins, zero shuffles, no refit."""
    if model.get("format") != "dsir/1":
        raise ValueError(
            f"not a dsir_fit model: format={model.get('format')!r}")
    return df.withColumn(
        weight_col,
        importance_weight(text_col, model["log_ratios"],
                          model["n_buckets"], model["bigrams"]),
    )


def dsir_weights(df: DataFrame, target: DataFrame | Column,
                 text_col: str = "text",
                 n_buckets: int = 4096, bigrams: bool = True,
                 weight_col: str = "dsir_weight") -> DataFrame:
    """Fit + apply in one call (:func:`dsir_fit` then
    :func:`dsir_score`) — the convenience form; pipelines that score
    more than one batch should fit once and reuse the model."""
    model = dsir_fit(df, target, text_col, n_buckets, bigrams)
    return dsir_score(df, model, text_col, weight_col)


def gumbel_topk(df: DataFrame, weight_col: str, k: int,
                key_col: str, salt: str = "",
                partition_by: list[str] | None = None,
                score_col: str | None = None) -> DataFrame:
    """Sample k rows WITHOUT replacement with probability proportional
    to ``exp(weight)`` — deterministically: the Gumbel-max trick with
    hash-derived noise, ``score = weight - ln(-ln(u))`` for
    ``u = md5-uniform(key || salt)``, then top-k by score (the
    Efraimidis-Spirakis reservoir rule; ties broken by key).

    This is how "resample proportional to importance" becomes an
    engine-portable top-k: no RNG state, no rejection loop, identical
    selection in any engine and under any partitioning.  Global form is
    ONE TakeOrdered (no full sort at scale); with ``partition_by`` it
    is one rank-filter shuffle (k rows per group survive).

    ``score_col`` keeps the Gumbel score for inspection."""
    from .sampling import hash_uniform

    u = hash_uniform(F.col(key_col), salt)
    # u in [0,1): guard the u=0 edge (ln(0) = -inf) by clamping up to
    # the smallest representable step of the 32-bit hash grid
    u = F.greatest(u, F.lit(1.0 / (1 << 32)))
    score = F.col(weight_col) - F.log(-F.log(u))
    scored = df.withColumn("__g", score)
    if partition_by:
        from pyspark.sql import Window

        w = Window.partitionBy(*partition_by).orderBy(
            F.col("__g").desc(), F.col(key_col).asc())
        out = (scored.withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") <= k).drop("__rn"))
    else:
        out = (scored.orderBy(F.col("__g").desc(), F.col(key_col).asc())
               .limit(k))
    if score_col is not None:
        return out.withColumnRenamed("__g", score_col)
    return out.drop("__g")


def temperature_mix_rates(counts: dict[str, int], alpha: float = 0.7,
                          target_total: int | None = None
                          ) -> dict[str, float]:
    """Per-source keep rates for temperature-scaled mixing: sampling
    share q_s ∝ (n_s / N)^alpha (alpha < 1 upweights small sources —
    the standard multilingual/multi-source rebalancing), scaled so the
    expected kept total is ``target_total`` (default: N, pure
    reshaping) and capped at 1 per source.  Plain Python on the
    per-source count dict."""
    if not 0.0 < alpha:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    n = sum(counts.values())
    if n == 0:
        return {s: 0.0 for s in counts}
    total = n if target_total is None else target_total
    shares = {s: (c / n) ** alpha for s, c in counts.items()}
    z = sum(shares.values())
    return {
        s: min(1.0, (shares[s] / z) * total / c) if c else 0.0
        for s, c in counts.items()
    }


def temperature_mix(df: DataFrame, source_col: str, key_col: str,
                    alpha: float = 0.7,
                    target_total: int | None = None,
                    salt: str = "") -> DataFrame:
    """Temperature-rebalance a multi-source corpus in ONE lazy plan: a
    bounded groupBy counts the sources (shuffle carries one row per
    source per task), the rate expression is derived per-row from the
    broadcast counts, and the keep decision is the deterministic
    md5-uniform acceptance of ``hash_sample``.  No driver action — the
    count subplan folds into the broadcast join.

    alpha=1 reproduces the natural distribution (all rates equal);
    alpha→0 flattens toward uniform across sources."""
    if not 0.0 < alpha:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    from .sampling import hash_uniform

    from pyspark.sql import Window

    counts = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("__n"))
    # the normalizers (corpus total N, z = sum over sources of
    # count^alpha) are global windows over the TINY counts relation —
    # one row per source, so the "global window funnel" is n_sources
    # rows, not the corpus.  Dividing count^alpha by sum(count^alpha)
    # equals share^alpha / sum(share^alpha).
    wg = Window.partitionBy()
    n = F.col("__n").cast("double")
    t_total = (F.sum(n).over(wg) if target_total is None
               else F.lit(float(target_total)))
    rate = F.least(
        F.lit(1.0),
        F.pow(n, F.lit(alpha)) / F.sum(F.pow(n, F.lit(alpha))).over(wg)
        * t_total / n,
    )
    rates = counts.select(F.col(source_col), rate.alias("__rate"))
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(hash_uniform(F.col(key_col), salt) < F.col("__rate"))
        .drop("__rate")
    )
