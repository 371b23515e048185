"""Text-analysis operators for large-scale training-data pipelines.

All pure JVM-side expressions (no Python UDFs) so they run inside
whole-stage codegen and scale linearly with no shuffle: tokenization,
quality scoring, language ID, fingerprinting.  Each returns a Column (or
a DataFrame transformer) usable both from raw Spark and via
``pdt.mutate``-composed pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import WS_CLASS, render, ws_trim

__all__ = [
    "tokens", "token_count", "char_count", "punct_ratio", "digit_ratio",
    "whitespace_ratio", "stopword_ratio", "quality_score", "lang_id",
    "fingerprint", "doc_stats", "STOPWORDS",
    "BPE_PRETOKEN_PATTERN", "bpe_pretokens", "bpe_token_count",
    "chunk_text", "segment_words", "remove_repeated_segments",
    "term_counts", "build_vocab", "doc_frequencies", "tfidf_top_terms",
    "mean_word_length", "symbol_word_ratio", "bullet_line_ratio",
    "ellipsis_line_ratio", "alpha_word_ratio", "required_word_count",
    "gopher_quality", "gopher_filter", "GOPHER_REQUIRED_WORDS",
]

# small deterministic stopword lists per language (heuristic lang-id)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit",
           "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour",
           "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "en", "por"],
}


def _tokens(f, text, lowercase: bool = False):
    """Spec of :func:`tokens` (``util.render``), optionally over the
    lowercased text."""
    if lowercase:
        text = f.lower(text)
    t = ws_trim(f, text)
    return f.when(f.length(t) == 0, f.array().cast("array<string>")
                  ).otherwise(f.split(t, WS_CLASS + "+"))


def _words(f, text):
    """Spec: lowercase whitespace words of the trimmed text, NULL read
    as '' — the shingle and hashed-n-gram tokenization."""
    return f.split(f.lower(ws_trim(f, f.coalesce(text, f.lit("")))),
                   WS_CLASS + "+")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization after trimming; empty string -> empty
    array.  A ``str`` argument is a column NAME: the expression then
    parses as one SQL string (r15 — one py4j round-trip instead of
    ~77)."""
    return render(_tokens, text)


def token_count(text: Column) -> Column:
    return F.array_size(tokens(text)).cast("long")


def char_count(text: Column) -> Column:
    return F.length(text).cast("long")


# GPT-2-shaped pre-tokenizer (the split BPE applies merges within):
# contractions | space-prefixed letter runs | digit runs | symbol runs |
# whitespace runs.  Restricted to RE2-compatible syntax (no lookahead,
# no unicode property classes) so Java regex (Spark) and RE2 (DuckDB,
# most log pipelines) produce IDENTICAL token streams — the count is
# engine-portable and oracle-checkable.
BPE_PRETOKEN_PATTERN = (
    r"'(s|t|re|ve|m|ll|d)"
    r"| ?[A-Za-z]+"
    r"| ?[0-9]+"
    r"| ?[^A-Za-z0-9\s]+"
    r"|\s+"
)


def bpe_pretokens(text: Column) -> Column:
    """array<string> of BPE pre-tokens (codegen regexp_extract_all)."""
    return F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_PATTERN), 0)


def bpe_token_count(text: Column) -> Column:
    """Pre-token count — the standard proxy for BPE token cost when
    budgeting a training mix (actual merge count needs the vocab; this
    stays a pure whole-stage-codegen expression)."""
    return F.array_size(bpe_pretokens(text)).cast("long")


def _ratio(matched_removed: Column, total: Column) -> Column:
    return F.when(total == 0, F.lit(0.0)).otherwise(
        (total - matched_removed).cast("double") / total.cast("double")
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    return _ratio(
        F.length(F.regexp_replace(text, r"[\p{Punct}]", "")), F.length(text)
    )


def digit_ratio(text: Column) -> Column:
    return _ratio(F.length(F.regexp_replace(text, r"[0-9]", "")),
                  F.length(text))


def whitespace_ratio(text: Column) -> Column:
    return _ratio(F.length(F.regexp_replace(text, r"\s", "")), F.length(text))


def stopword_count(text: Column, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    toks = tokens(F.lower(text))
    return F.array_size(F.filter(toks, lambda w: w.isin(*words))).cast("long")


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    n = token_count(text)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        stopword_count(text, lang).cast("double") / n.cast("double")
    )


def quality_score(text: Column) -> Column:
    """Composite 0..1 heuristic quality score: favors medium-length docs
    with low punctuation/digit noise and some stopword signal."""
    n_tok = token_count(text)
    length_score = F.least(n_tok.cast("double") / F.lit(64.0), F.lit(1.0))
    noise = punct_ratio(text) + digit_ratio(text)
    noise_score = F.greatest(F.lit(0.0), F.lit(1.0) - noise * 2)
    stop_score = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    return F.round(
        length_score * 0.4 + noise_score * 0.4 + stop_score * 0.2, 6
    )


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits
    (deterministic tie-break by language code order en<de<es<fr)."""
    counts = {lang: stopword_count(text, lang) for lang in STOPWORDS}
    best = F.lit("und")
    best_n = F.lit(-1).cast("long")
    for lang in sorted(STOPWORDS):  # de, en, es, fr
        c = counts[lang]
        is_better = c > best_n
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_n = F.when(is_better, c).otherwise(best_n)
    return F.when(token_count(text) == 0, F.lit("und")).otherwise(best)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the case- and
    whitespace-normalized text (portable across engines).

    NULL text coalesces to '' — a NULL document fingerprints like an
    empty one (same convention as :func:`word_shingles`), explicitly
    documented because the alternative (md5(NULL) = NULL) would make
    every downstream group-by silently collapse ALL NULL-text rows into
    one dedup group anyway (SQL GROUP BY groups NULLs together), which
    is the same outcome with a less inspectable key.  Oracle twin:
    ``md5(lower(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')))``.
    """
    text = F.coalesce(text, F.lit(""))
    return F.md5(F.lower(F.regexp_replace(text, r"\s+", " ")))


def _argmax_lang(counts: dict[str, Column], n_tokens: Column) -> Column:
    """argmax of per-language stopword hits with the deterministic
    tie-break of :func:`lang_id` (language code order)."""
    best = F.lit("und")
    best_n = F.lit(-1).cast("long")
    for lang in sorted(counts):
        c = counts[lang]
        is_better = c > best_n
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_n = F.when(is_better, c).otherwise(best_n)
    return F.when(n_tokens == 0, F.lit("und")).otherwise(best)


def doc_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard text-analysis columns.

    Staged through two projections so the tokenization and the regex
    scans run ONCE per row — the naive composition would re-tokenize the
    document per derived column (higher-order functions run outside
    whole-stage codegen, so Catalyst cannot merge the copies)."""
    t = F.col(text_col)
    # two stages: the token array materializes through a projection
    # boundary first, so the per-language membership counts each scan the
    # SAME array instead of re-splitting the text (same-projection columns
    # cannot share higher-order subexpressions)
    from .util import fan_out

    tokenized = fan_out(df).withColumn(
        "__ltoks", render(_tokens, text_col, lowercase=True))
    ltoks = F.col("__ltoks")
    staged = tokenized.withColumns({
        "__n_tok": F.array_size(ltoks).cast("long"),
        "__punct": punct_ratio(t),
        "__digit": digit_ratio(t),
        **{
            f"__sw_{lang}": F.array_size(
                F.filter(ltoks, lambda w: w.isin(*words))
            ).cast("long")
            for lang, words in STOPWORDS.items()
        },
        "n_chars_computed": char_count(t),
        "fp": fingerprint(t),
    })
    n_tok = F.col("__n_tok")
    sw_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.col("__sw_en").cast("double") / n_tok.cast("double")
    )
    length_score = F.least(n_tok.cast("double") / F.lit(64.0), F.lit(1.0))
    noise_score = F.greatest(
        F.lit(0.0), F.lit(1.0) - (F.col("__punct") + F.col("__digit")) * 2
    )
    out = staged.withColumns({
        "n_tokens": n_tok,
        "punct_ratio": F.round(F.col("__punct"), 6),
        "stopword_ratio_en": F.round(sw_ratio, 6),
        "quality": F.round(
            length_score * 0.4 + noise_score * 0.4
            + F.least(sw_ratio * 5, F.lit(1.0)) * 0.2, 6
        ),
        "lang_pred": _argmax_lang(
            {lang: F.col(f"__sw_{lang}") for lang in STOPWORDS}, n_tok
        ),
    })
    return out.drop("__ltoks", "__n_tok", "__punct", "__digit",
                    *[f"__sw_{lang}" for lang in STOPWORDS])


def mean_word_length(text: Column) -> Column:
    """Average characters per whitespace token; 0.0 for empty docs."""
    toks = tokens(text)
    n = F.array_size(toks)
    total = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, w: acc + F.length(w).cast("long"),
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(
        total.cast("double") / n.cast("double")
    )


def symbol_word_ratio(text: Column) -> Column:
    """(# of '#' characters + # of '...' runs) per word — the Gopher
    symbol-noise signal.  Non-regex replace keeps it pure codegen and
    engine-portable ('...' counted non-overlapping, like any engine's
    replace)."""
    n = token_count(text)
    hashes = F.length(text) - F.length(F.replace(text, F.lit("#")))
    ellipses = (
        F.length(text) - F.length(F.replace(text, F.lit("...")))
    ) / F.lit(3)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        (hashes + ellipses).cast("double") / n.cast("double")
    )


def _lines(text: Column) -> Column:
    return F.split(text, r"\n")


def bullet_line_ratio(text: Column) -> Column:
    """Fraction of lines whose trimmed text starts with a '-' or '*'
    bullet."""
    lines = _lines(text)
    n = F.array_size(lines)
    bullets = F.array_size(F.filter(
        lines, lambda li: F.regexp_replace(li, r"^\s+", "")
        .rlike(r"^[-*]")
    ))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        bullets.cast("double") / n.cast("double")
    )


def ellipsis_line_ratio(text: Column) -> Column:
    """Fraction of lines whose trimmed text ends with '...'."""
    lines = _lines(text)
    n = F.array_size(lines)
    ell = F.array_size(F.filter(
        lines, lambda li: F.regexp_replace(li, r"\s+$", "")
        .rlike(r"\.\.\.$")
    ))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        ell.cast("double") / n.cast("double")
    )


def alpha_word_ratio(text: Column) -> Column:
    """Fraction of words containing at least one ASCII letter."""
    toks = tokens(text)
    n = F.array_size(toks)
    alpha = F.array_size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        alpha.cast("double") / n.cast("double")
    )


# the Gopher paper's "required word" list (Rae et al. 2021, appendix A1.1):
# a doc must contain at least 2 of these to look like running English prose
GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have",
                         "with"]


def required_word_count(text: Column,
                        words: list[str] | None = None) -> Column:
    """How many of the required stop words appear at least once
    (distinct words counted, not occurrences)."""
    words = GOPHER_REQUIRED_WORDS if words is None else words
    ltoks = tokens(F.lower(text))
    hits = [F.array_contains(ltoks, w).cast("int") for w in words]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out.cast("long")


def _gopher_metric_exprs(raw: Column, toks: Column, ltoks: Column,
                         lines: Column) -> dict[str, Column]:
    """The seven Gopher rule metrics as expressions over ALREADY-BOUND
    split arrays (`toks`/`ltoks`/`lines` must be references to
    materialized or lambda-bound arrays, not fresh splits — the caller
    owns the sharing discipline)."""
    n = F.array_size(toks)
    n_lines = F.array_size(lines)

    def per_word(x: Column) -> Column:
        return F.when(n == 0, F.lit(0.0)).otherwise(
            x.cast("double") / n.cast("double")
        )

    def per_line(x: Column) -> Column:
        return F.when(n_lines == 0, F.lit(0.0)).otherwise(
            x.cast("double") / n_lines.cast("double")
        )

    total_len = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, w: acc + F.length(w).cast("long"),
    )
    hashes = F.length(raw) - F.length(F.replace(raw, F.lit("#")))
    ellipses = (
        (F.length(raw) - F.length(F.replace(raw, F.lit("...")))).cast("double")
        / F.lit(3.0)
    )
    n_req = None
    for w in GOPHER_REQUIRED_WORDS:
        h = F.array_contains(ltoks, w).cast("int")
        n_req = h if n_req is None else n_req + h
    return {
        "n_words": n.cast("long"),
        "mean_word_len": F.round(per_word(total_len), 6),
        "symbol_word_ratio": F.round(per_word(hashes + ellipses), 6),
        "bullet_line_ratio": F.round(per_line(F.array_size(F.filter(
            lines, lambda li: F.regexp_replace(li, r"^\s+", "")
            .rlike(r"^[-*]")
        ))), 6),
        "ellipsis_line_ratio": F.round(per_line(F.array_size(F.filter(
            lines, lambda li: F.regexp_replace(li, r"\s+$", "")
            .rlike(r"\.\.\.$")
        ))), 6),
        "alpha_word_ratio": F.round(per_word(F.array_size(
            F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
        )), 6),
        "n_required_words": n_req.cast("long"),
    }


def _gopher_flag_exprs(m: dict[str, Column], *, min_words, max_words,
                       min_mean_word_len, max_mean_word_len,
                       max_symbol_word_ratio, max_bullet_line_ratio,
                       max_ellipsis_line_ratio, min_alpha_word_ratio,
                       min_required_words) -> dict[str, Column]:
    return {
        "ok_n_words": (m["n_words"] >= min_words)
        & (m["n_words"] <= max_words),
        "ok_mean_word_len": (m["mean_word_len"] >= min_mean_word_len)
        & (m["mean_word_len"] <= max_mean_word_len),
        "ok_symbol_ratio": m["symbol_word_ratio"] <= max_symbol_word_ratio,
        "ok_bullet_lines": m["bullet_line_ratio"] <= max_bullet_line_ratio,
        "ok_ellipsis_lines": m["ellipsis_line_ratio"]
        <= max_ellipsis_line_ratio,
        "ok_alpha_words": m["alpha_word_ratio"] >= min_alpha_word_ratio,
        "ok_required_words": m["n_required_words"] >= min_required_words,
    }


def gopher_quality(df: DataFrame, text_col: str = "text", *,
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 10.0,
                   max_symbol_word_ratio: float = 0.1,
                   max_bullet_line_ratio: float = 0.9,
                   max_ellipsis_line_ratio: float = 0.3,
                   min_alpha_word_ratio: float = 0.8,
                   min_required_words: int = 2) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, appendix
    A1.1 — the de-facto standard pretraining heuristic filter): attach
    the rule metrics, one boolean per rule, and an AND-of-all
    ``gopher_pass`` column.

    All rules are whole-stage-codegen expressions over ONE tokenization
    (staged through a projection boundary like :func:`doc_stats` —
    higher-order array functions cannot share subexpressions within a
    projection), so attaching the metrics is a single map-only pass at
    any corpus size, and every metric is reproducible in plain SQL for
    the oracle.  To FILTER on the verdict use :func:`gopher_filter`,
    not ``.filter("gopher_pass")`` — predicate pushdown inlines the
    aliased expression tree into the filter condition, re-tokenizing
    the document once per rule (~8x the scan CPU); ``gopher_filter``
    binds the arrays once inside a single predicate expression.
    """
    t = F.col(text_col)
    from .util import fan_out

    # stage the split arrays through a projection boundary so each is
    # computed once, then derive every metric from the SAME arrays
    arrayed = fan_out(df).withColumns({
        "__toks": render(_tokens, text_col),
        "__ltoks": render(_tokens, text_col, lowercase=True),
        "__lines": _lines(t),
    })
    staged = arrayed.withColumns(_gopher_metric_exprs(
        t, F.col("__toks"), F.col("__ltoks"), F.col("__lines")
    )).drop("__toks", "__ltoks", "__lines")
    flags = _gopher_flag_exprs(
        {k: F.col(k) for k in ("n_words", "mean_word_len",
                               "symbol_word_ratio", "bullet_line_ratio",
                               "ellipsis_line_ratio", "alpha_word_ratio",
                               "n_required_words")},
        min_words=min_words, max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_word_ratio=max_symbol_word_ratio,
        max_bullet_line_ratio=max_bullet_line_ratio,
        max_ellipsis_line_ratio=max_ellipsis_line_ratio,
        min_alpha_word_ratio=min_alpha_word_ratio,
        min_required_words=min_required_words,
    )
    out = staged.withColumns(flags)
    all_pass = F.lit(True)
    for name in flags:
        all_pass = all_pass & F.col(name)
    return out.withColumn("gopher_pass", all_pass)


def gopher_filter(df: DataFrame, text_col: str = "text",
                  **thresholds) -> DataFrame:
    """Keep only documents passing every Gopher rule (same rules and
    keyword thresholds as :func:`gopher_quality`), as ONE predicate
    expression with the split arrays lambda-bound — the 100 TB hot
    path.

    The binding trick: ``transform(array(struct(toks, ltoks, lines)),
    x -> predicate)`` evaluates each split exactly once and binds the
    result to the lambda variable, so however many rules reference the
    token array, the document is tokenized ONCE — a let-expression
    Spark SQL doesn't otherwise have.  Filtering a ``gopher_quality``
    output on ``gopher_pass`` instead re-tokenizes per rule, because
    predicate pushdown substitutes the full expression tree into the
    filter condition (asserted in tests/test_extras_plans.py).
    """
    kw = dict(min_words=50, max_words=100_000, min_mean_word_len=3.0,
              max_mean_word_len=10.0, max_symbol_word_ratio=0.1,
              max_bullet_line_ratio=0.9, max_ellipsis_line_ratio=0.3,
              min_alpha_word_ratio=0.8, min_required_words=2)
    unknown = set(thresholds) - set(kw)
    if unknown:
        raise TypeError(f"unknown threshold(s): {sorted(unknown)}")
    kw.update(thresholds)
    t = F.col(text_col)
    bound = F.struct(
        t.alias("raw"),
        render(_tokens, text_col).alias("toks"),
        render(_tokens, text_col, lowercase=True).alias("ltoks"),
        _lines(t).alias("lines"),
    )

    def predicate(x: Column) -> Column:
        m = _gopher_metric_exprs(x["raw"], x["toks"], x["ltoks"], x["lines"])
        flags = _gopher_flag_exprs(m, **kw)
        out = F.lit(True)
        for f in flags.values():
            out = out & f
        return out

    # element_at(transform(array(s), pred), 1): the struct is evaluated
    # once, the lambda variable is bound to the RESULT, and every rule
    # reads the bound arrays
    gate = F.element_at(F.transform(F.array(bound), predicate), 1)
    return df.filter(gate)


def chunk_text(df: DataFrame, text_col: str = "text",
               *, size: int = 200, overlap: int = 0) -> DataFrame:
    """Split each document into overlapping character chunks — the
    training-data prep step between cleaning and tokenization.

    Chunk *i* covers ``[i*step, i*step + size)`` with
    ``step = size - overlap``; the last chunk may be shorter, and an
    empty document yields one empty chunk (so no document silently
    disappears).  Purely map-side: ``sequence`` + ``transform`` +
    ``posexplode`` run inside codegen with NO shuffle and no Python —
    at 100 TB this is a streaming pass whose output partitioning
    mirrors the input's.

    Output: the input columns plus ``chunk_id`` (0-based) and
    ``chunk`` (the substring).
    """
    if overlap >= size:
        raise ValueError("overlap must be smaller than size")
    step = size - overlap
    t = F.col(text_col)
    starts = F.sequence(
        F.lit(0), F.greatest(F.length(t) - 1, F.lit(0)), F.lit(step)
    )
    chunks = F.transform(starts, lambda s: t.substr(s + 1, F.lit(size)))
    exploded = df.select(
        "*", F.posexplode(chunks).alias("chunk_id", "chunk")
    )
    return exploded.withColumn("chunk_id", F.col("chunk_id").cast("long"))


def repetition_ratio(text: Column, k: int = 3) -> Column:
    """Fraction of repeated k-word shingles: 1 - distinct/total over the
    same shingle windows as extras.dedup.word_shingles (short/empty docs
    produce one shingle, hence ratio 0).  High values flag boilerplate /
    template spam — a standard training-data quality signal.  Pure
    array expressions, no shuffle.  NULL docs coalesce to '' (ratio
    0.0, like empty docs) so the result is engine-independent — found
    by tests/test_fuzz_extras.py."""
    from .util import bind

    words = tokens(F.lower(F.coalesce(text, F.lit(""))))

    def mk(w: Column) -> Column:
        # w is the bound split — a captured `words` would re-tokenize
        # the document per shingle (util.bind docstring)
        n = F.array_size(w)
        return F.transform(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
            lambda j: F.array_join(F.slice(w, j + 1, k), " "),
        )

    def ratio(s: Column) -> Column:
        total = F.array_size(s)
        distinct = F.array_size(F.array_distinct(s))
        return F.lit(1.0) - distinct.cast("double") / total.cast("double")

    return F.round(bind(bind(words, mk), ratio), 6)


# RE2-compatible (no lookahead/backrefs) so Java regex and RE2 engines
# make identical replacements — redaction is engine-portable.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
NUMBER_PATTERN = r"[0-9][0-9][0-9]+"


def redact(text: Column, pattern: str = EMAIL_PATTERN,
           token: str = "<PII>") -> Column:
    """Replace every match of ``pattern`` with ``token`` — the scrub
    step of a training-data pipeline (emails, long digit runs, ...).
    Single codegen regexp_replace, map-side, no shuffle."""
    return F.regexp_replace(text, pattern, token)


def redact_pii(text: Column, *, email_token: str = "<EMAIL>",
               number_token: str = "<NUM>") -> Column:
    """Email + long-digit-run redaction (emails first so their digits
    don't get partially rewritten by the number pass)."""
    return redact(redact(text, EMAIL_PATTERN, email_token),
                  NUMBER_PATTERN, number_token)


def segment_words(text: Column, seg_words: int = 3) -> Column:
    """Consecutive ``seg_words``-word segments of a document as an
    array<string> (the unit of corpus-level repeated-segment removal —
    the array analog of "lines" for text without newlines).  The last
    segment may be shorter; an empty/whitespace/NULL document yields an
    empty array.  Pure array expressions, map-side.

    NULL guard: without the coalesce, ``size(NULL)`` is -1 under
    legacy ``sizeOfNull`` but NULL under ANSI mode — the ``when``
    condition would go NULL and the otherwise branch would emit a
    single-NULL segment array.  Coalescing to '' makes NULL docs yield
    ``[]`` deterministically regardless of ANSI config."""
    from .util import bind

    words = tokens(F.coalesce(text, F.lit("")))

    def mk(w: Column) -> Column:
        n_seg = F.ceil(F.array_size(w) / F.lit(seg_words)).cast("int")
        # sequence(1, 0) would yield a DESCENDING [1, 0]; guard empties
        return F.when(n_seg < 1, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_seg, F.lit(1))),
                lambda i: F.array_join(
                    F.slice(w, (i - 1) * seg_words + 1, seg_words), " "
                ),
            )
        )

    return bind(words, mk)


def remove_repeated_segments(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", *,
                             seg_words: int = 3,
                             max_df: int = 2,
                             persist_segments: bool | None = None) -> DataFrame:
    """Corpus-level boilerplate removal (the C4 / RefinedWeb trick at
    line granularity, generalized to word-window segments): drop every
    segment that occurs more than ``max_df`` times across the WHOLE
    corpus, then reassemble each document from its surviving segments in
    order.  Returns ``(id_col, clean_text)`` for every input document —
    a fully-boilerplate document comes back as the empty string rather
    than disappearing.

    Scale shape (100 TB): one shuffle to count segment frequencies
    (uniform md5-distributed keys, map-side partial counts), where the
    over-threshold "hot" set is tiny (boilerplate is by definition a
    small set of high-frequency strings) so Catalyst broadcasts it into
    the anti-join; then one shuffle on the document id to reassemble.
    No Python, no skew (the hot segments are REMOVED, not grouped on).

    The exploded segment projection feeds BOTH the frequency count and
    the anti-join, i.e. two full explode passes over the corpus
    (measured 1.2 s each of the 2.6 s total at sf1).  A window count
    over __seg would share the pass but shuffles every raw segment by
    segment key — skewed reducers on exactly the hot boilerplate the op
    exists to remove — so the two-pass shape is the correct one at
    100 TB (the count pass shuffles only map-side partial counts).
    Small corpora (``persist_segments=None`` decides by Catalyst
    sizeInBytes) persist the exploded projection instead and pay the
    explode once; identical results either way
    (tests/test_chunking.py::test_remove_repeated_strategies_agree).
    """
    from ..storage import hold
    from .util import _small_corpus, fan_out

    if persist_segments is None:
        persist_segments = _small_corpus(df)

    segs = fan_out(df).select(
        F.col(id_col),
        F.posexplode(segment_words(F.col(text_col), seg_words))
        .alias("__pos", "__seg"),
    )
    if persist_segments:
        segs = hold(segs, "remove_repeated_segments")
    hot = (
        segs.groupBy("__seg")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > max_df)
        .select("__seg")
    )
    kept = segs.join(hot, on="__seg", how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__seg"))),
                lambda s: s["__seg"],
            ),
            " ",
        ).alias("clean_text")
    )
    return (
        df.select(id_col)
        .join(rebuilt, on=id_col, how="left")
        .withColumn("clean_text", F.coalesce(F.col("clean_text"), F.lit("")))
    )


# --------------------------------------------------------------------------
# vocabulary / TF-IDF
# --------------------------------------------------------------------------

def _exploded_tokens(df: DataFrame, text_col: str, id_col: str | None,
                     lowercase: bool) -> DataFrame:
    """One row per (doc, token): explode the whitespace tokenization.
    The heavy part is narrow (per-row regex + explode); NULL / empty /
    whitespace-only documents contribute no rows."""
    from .util import fan_out

    cols = ([F.col(id_col)] if id_col else []) + [
        F.explode(render(_tokens, text_col, lowercase=lowercase))
        .alias("token")
    ]
    # key the fan-out exchange by the doc id when one is carried
    # (r15, guide §2.4): the (id, token) tf aggregation AND the
    # per-doc top-k window downstream are both clustered by id, so
    # they reuse this one exchange instead of shuffling the exploded
    # token rows again (q_tfidf_topk: 3 exchanges -> 1 in the tf lane)
    return fan_out(df, key=id_col).select(*cols)


def term_counts(df: DataFrame, text_col: str = "text",
                lowercase: bool = True) -> DataFrame:
    """Corpus-wide term frequencies: (token, tf).  explode -> hash
    aggregation with map-side partial combine — each task reduces its
    split to its distinct tokens before the ONE shuffle on token, so
    shuffle volume is bounded by (distinct tokens per task), not corpus
    token count."""
    return (
        _exploded_tokens(df, text_col, None, lowercase)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def build_vocab(df: DataFrame, text_col: str = "text",
                min_count: int = 1, top_n: int | None = None,
                lowercase: bool = True) -> DataFrame:
    """Frequency vocabulary: (token, tf, rank), rank 1 = most frequent,
    ties broken by token.  ``min_count`` prunes the long tail BEFORE the
    rank sort (at web scale the hapax tail is most of the distinct
    tokens); ``top_n`` caps the vocabulary size.  The global rank is a
    single sort of the ALREADY-AGGREGATED (token, tf) table — never of
    the corpus."""
    tc = term_counts(df, text_col, lowercase)
    if min_count > 1:
        tc = tc.filter(F.col("tf") >= min_count)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("tf").desc(), F.col("token").asc())
    out = tc.withColumn("rank", F.row_number().over(w))
    if top_n is not None:
        out = out.filter(F.col("rank") <= top_n)
    return out


def doc_frequencies(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    lowercase: bool = True) -> DataFrame:
    """Document frequencies: (token, df) = number of distinct documents
    containing the token.  array_distinct BEFORE the explode deduplicates
    within-document repeats map-side, so the aggregation input is one row
    per (doc, distinct token) with no extra distinct shuffle."""
    from .util import fan_out

    per_doc = fan_out(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(
            render(_tokens, text_col, lowercase=lowercase))).alias("token"),
    )
    return per_doc.groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 5,
                    lowercase: bool = True) -> DataFrame:
    """Top-k characteristic terms per document by smooth TF-IDF:
    ``tfidf = tf * (ln((N + 1) / (df + 1)) + 1)`` (sklearn's smoothed
    formula).  Returns (doc_id, token, tf, tfidf) with at most k rows
    per document, ties broken by token.

    Plan shape: tf is a (doc, token) hash agg; df comes from a second,
    independent pass (:func:`doc_frequencies` — array_distinct dedupes
    within-document repeats map-side, so its shuffle carries only
    distinct (doc, token) pairs).  Deriving df from the tf table
    instead (one logical explode, relying on exchange reuse) was
    MEASURED SLOWER under AQE at sf1 (6.5-16 s vs 5.2-5.6 s warm,
    local[32]): adaptive re-planning recomputed the shared (doc, token)
    exchange for both consumers, so the "saved" explode cost a second
    full aggregation of the big pair table.  df joins in on token (AQE
    broadcasts it when the vocabulary is small); N is a scalar subplan
    crossJoin-broadcast — no driver-side count; the top-k is a
    row_number window per document over the aggregated tf table, never
    over raw tokens."""
    ex = _exploded_tokens(df, text_col, id_col, lowercase)
    tf = ex.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = doc_frequencies(df, text_col, id_col, lowercase)
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col), F.col("token"), F.col("tf"),
            (
                F.col("tf").cast("double")
                * (F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
