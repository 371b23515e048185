"""One definition per extras expression (extras/util.render): every
expression spec builds a Column tree for a Column argument and ONE
parsed SQL string for a column NAME.  These tests pin that the two
renderings are value-identical on adversarial inputs under BOTH
settings of ``spark.sql.parser.escapedStringLiterals``, that the name
form stays one parse, and that its lambda variables cannot capture an
input column."""

from __future__ import annotations

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F

from pydiverse_transform_spark.extras import dedup as dd
from pydiverse_transform_spark.extras import similarity as sim
from pydiverse_transform_spark.extras.importance import (
    hashed_ngram_buckets,
    importance_weight,
)
from pydiverse_transform_spark.extras.text import _tokens, tokens
from pydiverse_transform_spark.extras.util import (
    WS_CLASS,
    _sql_text,
    _SqlFunctions,
    render,
)

sys.path.insert(0, os.path.dirname(__file__))

ESCAPING = "spark.sql.parser.escapedStringLiterals"

TEXTS = [None, "", "   ", "a", "a b", "  a\t\tb\nc  ", "a'b\\c",
         "x " * 40, "ünïcode  wörds hére", "tab\tsep\ttoks",
         'quo"te `tick` $dollar', "\\s+ literal backslash s plus",
         "  Hello  WORLD  ", " \t\n  ", "x y\tz\nq  r", "v\x0bt\ff\rcr",
         "nb\u00a0sp stays", "back\\slash 'quote' \"dq\"", "..."]

LUT = [0.25 * i - 3.0 for i in range(64)]
CENTS = sim.hyperplanes(8, 6, seed="r14ab")
VECS = [None, [0.5] * 8, [float("nan")] * 8,
        [1.0, -1.0, 0.0, 2.5, -3.5, 4.0, 0.25, -0.125], [1.0] * 5]
BOOKS = sim.pq_codebooks(8, m=4, k=4, seed="specs")
LUTS = [[0.5 * i + j for i in range(4)] for j in range(4)]


@pytest.fixture(params=["false", "true"], ids=["escaping-default",
                                               "escaping-legacy"])
def escaping(spark, request):
    old = spark.conf.get(ESCAPING, "false")
    spark.conf.set(ESCAPING, request.param)
    yield request.param
    spark.conf.set(ESCAPING, old)


def _text_exprs():
    """(name, build) over one text column, Column or name."""
    return [
        ("tokens", tokens),
        ("tokens_lower", lambda x: render(_tokens, x, lowercase=True)),
        ("word1", lambda x: dd.word_shingles(x, 1)),
        ("word3", lambda x: dd.word_shingles(x, 3)),
        ("char2", lambda x: dd.char_shingles(x, 2)),
        ("char5", lambda x: dd.char_shingles(x, 5)),
        ("buckets", lambda x: hashed_ngram_buckets(x, 64)),
        ("unigrams", lambda x: hashed_ngram_buckets(x, 64, False)),
        ("weight", lambda x: importance_weight(x, LUT)),
    ]


def _exprs():
    """input kind -> [(name, build)] for every spec."""
    return {
        "text": _text_exprs(),
        "shingles": [("base_hash", dd.shingle_base_hash)],
        "hashes": [("signature",
                    lambda x: dd.minhash_signature_array(x, 16))],
        "sig": [("band_hash", lambda x: render(dd._band_hash, x, 5, 4))],
        "vec": [("kmeans_cell", lambda x: sim.kmeans_cell(x, CENTS)),
                ("ivf_cell", lambda x: sim.ivf_cell(x, CENTS)),
                ("pq_code", lambda x: render(sim._pq_code, x, BOOKS))],
        "code": [("adc_sum", lambda x: render(sim._adc_sum, x, LUTS))],
    }


def _input(spark, kind, col):
    """An ``id`` plus one ``kind`` input column named ``col``."""
    if kind == "vec":
        return spark.createDataFrame(list(enumerate(VECS)),
                                     f"id long, `{col}` array<double>")
    if kind == "code":
        return spark.createDataFrame(
            [(0, [0, 1, 2, 3]), (1, [3, 3, 0, 1]), (2, None)],
            f"id long, `{col}` array<int>")
    df = spark.createDataFrame(list(enumerate(TEXTS)),
                               "id long, text string")
    sh = F.col("sh")
    src = {"text": F.col("text"), "shingles": sh,
           "hashes": dd.shingle_base_hash(sh),
           "sig": dd.minhash_signature_array(dd.shingle_base_hash(sh), 16)}
    return (df.withColumn("sh", dd.word_shingles(F.col("text"), 2))
            .select("id", src[kind].alias(col)))


def _assert_forms_match(spark, col):
    """Per input kind, ONE select holding every expression's Column form
    and name form side by side (repr: NaN only compares as text)."""
    for kind, exprs in _exprs().items():
        df = _input(spark, kind, col)
        cols = []
        for i, (_, build) in enumerate(exprs):
            cols += [build(F.col(col)).alias(f"c{i}"),
                     build(col).alias(f"n{i}")]
        rows = df.select(*cols).collect()
        for i, (name, _) in enumerate(exprs):
            assert ([repr(r[f"c{i}"]) for r in rows]
                    == [repr(r[f"n{i}"]) for r in rows]), name


def _sub_cells(spark, col):
    vdf = _input(spark, "vec", col).filter(F.size(col) == 8)
    return [sorted(repr(tuple(r)) for r in vdf.select(
        render(sim._pq_sub_cells, x, BOOKS)).collect())
        for x in (F.col(col), col)]


def test_specs_match_column_forms(spark, escaping):
    """Name form == Column form for every spec, in both escaping
    modes, on nulls, empties, whitespace runs (incl. \\x0b/\\f/\\r and a
    non-ASCII NBSP, which Java's \\s does not match), backslashes,
    quotes and unicode.  The pq_fit ``inline`` generator spec is
    selected alone."""
    _assert_forms_match(spark, "a")
    want, got = _sub_cells(spark, "a")
    assert want == got


@pytest.mark.parametrize("col", ["c", "x", "s", "acc"])
def test_name_form_cannot_capture_input_column(spark, col):
    """Input columns named like a lambda variable the Column/SQL text
    might use must still read the COLUMN: every spec over a column
    named ``c``/``x``/``s``/``acc`` equals its Column form."""
    _assert_forms_match(spark, col)
    want, got = _sub_cells(spark, col)
    assert want == got


def test_cell_argmin_over_column_named_c(spark):
    """The documented capture case: a vector column named ``c`` used
    to resolve to the centroid inside ``c -> ...``."""
    cents = [[0.0, 0.0], [10.0, 10.0], [-5.0, 3.0]]
    df = spark.createDataFrame(
        [(0, [9.0, 9.5]), (1, [-4.0, 2.0]), (2, [0.1, 0.2])],
        "id long, c array<double>")

    rows = df.orderBy("id").select(
        sim.kmeans_cell("c", cents).alias("kn"),
        sim.kmeans_cell(F.col("c"), cents).alias("kc"),
        sim.ivf_cell("c", cents).alias("in"),
        sim.ivf_cell(F.col("c"), cents).alias("ic")).collect()
    for name, want in (("kn", [1, 2, 0]), ("kc", [1, 2, 0]),
                       ("in", [1, 2, 1]), ("ic", [1, 2, 1])):
        assert [r[name] for r in rows] == want, name
    out = sim.assign_cells(df, cents, vec_col="c", out_col="cell")
    assert [r["cell"] for r in out.orderBy("id").collect()] == [1, 2, 0]


def test_name_forms_built_without_session_parse_under_legacy(spark):
    """Build the name forms on a thread with NO active session (where a
    conf probe cannot see the session that will analyze them), then
    evaluate them in a legacy-escaping session: values must equal the
    default-mode values."""
    df = _input(spark, "text", "text")
    names = [n for n, _ in _text_exprs()]

    def collect(cols):
        rows = df.select(*[c.alias(n) for n, c in zip(names, cols)]
                         ).collect()
        return {n: [repr(r[n]) for r in rows] for n in names}

    want = collect([b("text") for _, b in _text_exprs()])
    built = {}

    def build_all():
        from pyspark.sql import SparkSession

        built["active"] = SparkSession.getActiveSession()
        built["cols"] = [b("text") for _, b in _text_exprs()]

    t = threading.Thread(target=build_all)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    assert built["active"] is None
    old = spark.conf.get(ESCAPING, "false")
    spark.conf.set(ESCAPING, "true")
    try:
        got = collect(built["cols"])
    finally:
        spark.conf.set(ESCAPING, old)
    for n in names:
        assert want[n] == got[n], n


def _py4j_calls(spark, build):
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    n = 0

    def counting(*a, **kw):
        nonlocal n
        n += 1
        return orig(*a, **kw)

    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = orig
    return n


def test_name_forms_are_one_parse(spark):
    """The name form is ONE F.expr: its py4j traffic equals a bare
    F.expr's, whatever the spec's size; the Column form pays per
    node."""
    base = _py4j_calls(spark, lambda: F.expr("1"))
    for kind, exprs in _exprs().items():
        for name, build in exprs:
            assert _py4j_calls(spark, lambda: build("a")) == base, name
    assert _py4j_calls(spark, lambda: sim.kmeans_cell(F.col("v"), CENTS)) \
        > 10 * base


def test_sql_renderer_literals_and_lambda_names():
    assert _sql_text(0.5) == "0.5D"
    assert _sql_text(-2.0) == "-2.0D"
    assert _sql_text(4_294_967_311) == "4294967311"
    assert _sql_text(None) == "NULL"
    assert _sql_text(WS_CLASS) == f"'{WS_CLASS}'"
    for bad in ("a\\b", "it's"):
        with pytest.raises(ValueError):
            _sql_text(bad)
    # generated lambda names skip every (case-folded) input column name
    f = _SqlFunctions("LV0", "lv2.field")
    text = f.transform(f.array(), lambda a: f.zip_with(
        a, a, lambda b, c: b + c)).text
    assert "lv0" not in text and "lv2" not in text
    assert text == ("transform(array(), lv1 -> "
                    "zip_with(lv1, lv1, (lv3, lv4) -> (lv3 + lv4)))")


ORACLE_QUERIES = ["q_tfidf_topk", "q_nb_classifier", "q_dedup_minhash",
                  "q_dsir_weights"]
ORACLE_SF = "/root/testdata/sf0.01"


@pytest.mark.skipif(not os.path.isdir(ORACLE_SF),
                    reason="sf0.01 testdata not present")
@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_text_queries_match_oracle_under_legacy_escaping(spark, name):
    """The tokenizer/shingle/n-gram registry queries stay equal to the
    DuckDB oracle in a legacy-escaping session."""
    import __spark_entry__ as se
    from oracle_util import compare, duckdb_con

    old = spark.conf.get(ESCAPING, "false")
    spark.conf.set(ESCAPING, "true")
    try:
        ok, msg = compare(se.queries()[name](spark, ORACLE_SF),
                          duckdb_con(ORACLE_SF), se.oracle_sql()[name],
                          name)
    finally:
        spark.conf.set(ESCAPING, old)
    assert ok, msg
