"""Shared helpers for the extras operators."""

from __future__ import annotations

import inspect
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["fan_out", "plan_size_bytes", "SMALL_CORPUS_BYTES",
           "UNKNOWN_PLAN_SIZE", "lit_num_array", "render", "WS_CLASS"]

# sentinel plan_size_bytes returns when Catalyst has no sizeInBytes
# statistic for the plan (RDD-backed createDataFrame inputs, plans
# behind wide transforms with stats unavailable)
UNKNOWN_PLAN_SIZE = 1 << 62


def fan_out(df: DataFrame, min_parts: int | None = None,
            key: str | None = None) -> DataFrame:
    """Guarantee enough partitions before heavy narrow per-row compute
    (shingling, minhashing, per-token scans, vector math).

    A small input — one parquet file, or one unsplittable row group —
    arrives as a single split, which serializes the expensive map stage
    on one core even on a 32-core machine.  At the 100-TB target the
    input has thousands of splits and this is a no-op.

    The decision uses Catalyst's free sizeInBytes statistic, NOT
    ``df.rdd.getNumPartitions()`` (the r5-advice item: the RDD probe
    forces a full plan-to-RDD conversion analysis per call — measurable
    driver cost on deep plans).  Rule: repartition to ``target`` iff the
    plan-size estimate is under ``target x maxPartitionBytes`` — below
    that, the scan cannot have produced ``target`` splits (parquet
    splits at maxPartitionBytes) and the repartition itself moves only
    a small input; above it (or when stats are unknown, e.g. after a
    wide transform at scale), the input already has enough splits and
    adding a shuffle of raw text would be pure cost.

    ``key`` (r15, guide §2.4 "share one exchange"): when the fan-out
    DOES repartition, hash-partition by this column instead of
    round-robin, so a downstream aggregation/window keyed on it (or on
    a superset — HashPartitioning(k) satisfies ClusteredDistribution
    (k, ...)) reuses the exchange instead of adding its own.  Same
    cost when the fan-out fires (the rows move either way), zero
    change when it doesn't — the key only ever REMOVES exchanges.
    Keys must be high-cardinality (unique ids) so the hash spreads
    evenly (guide §2.5)."""
    sess = df.sparkSession
    target = min_parts or sess.sparkContext.defaultParallelism

    def _rep():
        if key is not None:
            return df.repartition(target, F.col(key))
        return df.repartition(target)

    raw = str(sess.conf.get("spark.sql.files.maxPartitionBytes",
                            "134217728"))
    size = plan_size_bytes(df)
    if size == UNKNOWN_PLAN_SIZE:
        # stats-unknown plan (RDD-backed createDataFrame, or behind a
        # wide transform that erased stats).  Assuming "large" here
        # leaves a driver-created single-partition input serializing
        # its mapInPandas kernel on one core (r6 advice), so fall back
        # to the partition-count probe for these plans only — the
        # common unknown-stats case IS the small local input, where the
        # probe is cheap.
        try:
            if df.rdd.getNumPartitions() < target:
                return _rep()
        except Exception:
            pass
        return df
    if size < target * _parse_byte_conf(raw):
        return _rep()
    return df


def _parse_byte_conf(s: str) -> int:
    """Spark byte-size conf values: '134217728', '134217728b', '128m',
    '128MB', '1g', ..."""
    s = s.strip().lower()
    for suf, mult in (("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
                      ("kb", 1 << 10), ("t", 1 << 40), ("g", 1 << 30),
                      ("m", 1 << 20), ("k", 1 << 10), ("b", 1)):
        if s.endswith(suf):
            return int(float(s[:-len(suf)])) * mult
    return int(float(s))


# below this estimated (compressed) input size, pipelines that would
# otherwise re-scan the corpus may persist an intermediate projection
# instead; above it, the scalable no-materialization path is used.
SMALL_CORPUS_BYTES = 2 << 20


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for the optimized plan — free
    (no job), the same statistic AQE uses for broadcast decisions."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return UNKNOWN_PLAN_SIZE
    # Catalyst reports stats-unknown leaves (e.g. LogicalRDD) as
    # Long.MaxValue-ish products; normalize anything implausibly large
    # to the explicit sentinel so callers can branch on "unknown"
    return UNKNOWN_PLAN_SIZE if size >= UNKNOWN_PLAN_SIZE else size


def _small_corpus(df: DataFrame) -> bool:
    """The one small-input gate: at most ``SMALL_CORPUS_BYTES`` by the
    plan's size estimate (stats-unknown plans are never small)."""
    return plan_size_bytes(df) <= SMALL_CORPUS_BYTES


def _num_token(v, is_int: bool) -> str:
    if is_int:
        return str(int(v))
    f = float(v)
    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "Infinity" if f > 0 else "-Infinity"
    # repr() is the shortest round-trip form and Java's
    # correctly-rounded parse restores the identical IEEE double
    return repr(f)


def lit_num_array(values, eltype: str = "double", f=F) -> Column:
    """Literal numeric array with O(1) plan-CONSTRUCTION cost (r14,
    guide §1.2 "per-task work" applied to the DRIVER).

    ``F.array(*[F.lit(v) for v in vals])`` costs one py4j round-trip
    per element plus a CreateArray node with ``len(vals)`` children
    that the analyzer and optimizer must walk on EVERY fresh plan —
    measured 2.5 s per build for a 4096-double LUT.  This helper emits
    ``split(lit(csv), ',').cast(array<eltype>)``: one py4j call, three
    plan nodes, and ConstantFolding collapses it to the genuine array
    ``Literal`` before codegen (0.13 s for the same LUT), so executors
    evaluate exactly the same constant — verified bit-identical
    (string→double casts are correctly rounded, and repr() round-trips
    every finite IEEE double; NaN/Infinity use Spark's special cast
    literals).

    ``eltype`` is the Spark element type name (``double``, ``float``,
    ``bigint``, ``int``...).  Empty input returns a typed empty array.
    ``f`` is the functions surface (see :func:`render`).
    """
    vals = list(values)
    is_int = eltype in ("tinyint", "smallint", "int", "bigint", "long")
    if not vals:
        return f.array().cast(f"array<{eltype}>")
    csv = ",".join(_num_token(v, is_int) for v in vals)
    return f.split(f.lit(csv), ",").cast(f"array<{eltype}>")


# Java regex's ``\s`` (no UNICODE_CHARACTER_CLASS) spelled as the raw
# characters: a pattern built from it carries no backslash, so it reads
# the same in a Column literal and in SQL text under either setting of
# ``spark.sql.parser.escapedStringLiterals``.
WS_CLASS = "[ \t\n\x0b\f\r]"


def ws_trim(f, text):
    """``text`` with leading and trailing whitespace removed."""
    return f.regexp_replace(text, f"^{WS_CLASS}+|{WS_CLASS}+$", "")


def bind(col: Column, body, f=F) -> Column:
    """Let-expression for array/struct pipelines: evaluate ``col`` ONCE
    and hand the bound value to ``body`` (transform over a
    single-element struct array — the lambda variable holds the
    evaluated result).

    Why it exists: higher-order functions are interpreted, so a
    COMPUTED subexpression captured inside their lambda re-evaluates
    for every element — a shingle builder that slices a captured
    ``split(...)`` re-tokenizes the document per shingle, O(n_words^2)
    regexp work per doc (measured 27 s vs ~1 s per pass on the bigram
    LM path at 5k docs).  Column references are cheap to capture;
    computed trees are not — bind them."""
    return f.element_at(
        f.transform(f.array(f.struct(col.alias("v"))),
                    lambda s: body(s["v"])),
        1,
    )


# ---------------------------------------------------------------------------
# One definition per expression.  An expression spec is a function
# ``spec(f, x, *args)`` written against the ``pyspark.sql.functions``
# surface.  :func:`render` calls it with ``f = F`` for a Column argument,
# and with a SQL-text shim for a column NAME, parsing the resulting text
# with ONE ``F.expr``: Column-by-Column construction costs one py4j
# round-trip per node (~600 for a literal-centroid argmin, ~1.4k for a
# minhash fold), a parsed string costs three in total.
#
# The shim renders ``name(args...)`` generically, the operators
# ``+ - * % ==``, ``.cast``/``.alias``/``[field]``, ``when/otherwise``,
# literals, and ``transform``/``aggregate``/``zip_with`` lambdas.  Python
# strings passed straight to a function are SQL string literals, exactly
# as ``F.regexp_replace``/``F.split``/``F.array_join`` read them; specs
# wrap any other string constant in ``f.lit``.
# ---------------------------------------------------------------------------

def _sql_ident(name: str) -> str:
    # dots mean nested access, exactly as in F.col(name)
    return ".".join("`" + p.replace("`", "``") + "`"
                    for p in name.split("."))


def _sql_text(v) -> str:
    if isinstance(v, _Sql):
        return v.text
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # D suffix: a bare 0.5 parses as DECIMAL, F.lit(0.5) is DOUBLE
        return f"{v!r}D"
    if isinstance(v, str):
        # the text must parse the same under both escapedStringLiterals
        # settings — a literal that needs an escape cannot
        if "\\" in v or "'" in v:
            raise ValueError(f"string literal needs escaping: {v!r}")
        return f"'{v}'"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


class _Sql:
    """SQL text of one expression, with the Column methods specs use."""

    __slots__ = ("text",)
    __hash__ = None

    def __init__(self, text: str):
        self.text = text

    def _op(self, op: str, other) -> _Sql:
        return _Sql(f"({self.text} {op} {_sql_text(other)})")

    def __add__(self, o): return self._op("+", o)
    def __sub__(self, o): return self._op("-", o)
    def __mul__(self, o): return self._op("*", o)
    def __mod__(self, o): return self._op("%", o)
    def __eq__(self, o): return self._op("=", o)

    def cast(self, dtype: str) -> _Sql:
        return _Sql(f"cast({self.text} as {dtype})")

    def alias(self, name: str) -> _Sql:
        return _Sql(f"{self.text} AS `{name}`")

    def __getitem__(self, field: str) -> _Sql:
        return _Sql(f"{self.text}.`{field}`")


class _SqlWhen:
    def __init__(self, cond, value):
        self.cond, self.value = cond, value

    def otherwise(self, other) -> _Sql:
        return _Sql(f"CASE WHEN {_sql_text(self.cond)} THEN "
                    f"{_sql_text(self.value)} ELSE {_sql_text(other)} END")


class _SqlFunctions:
    """The ``pyspark.sql.functions`` surface, rendering SQL text.

    Lambda variables are named ``lv0, lv1, ...``, skipping any name the
    input columns use: a lambda variable shadows a same-named column
    reference inside its body (case-insensitively), so a vector column
    named like the variable would otherwise silently read the lambda
    argument instead."""

    def __init__(self, *columns: str):
        self._taken = {c.split(".")[0].lower() for c in columns}
        self._n = 0

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        return lambda *args: _Sql(
            f"{name}({', '.join(map(_sql_text, args))})")

    @staticmethod
    def lit(v) -> _Sql:
        return _Sql(_sql_text(v))

    @staticmethod
    def when(cond, value) -> _SqlWhen:
        return _SqlWhen(cond, value)

    def transform(self, arr, fn) -> _Sql:
        return self._hof("transform", fn, arr)

    def zip_with(self, left, right, fn) -> _Sql:
        return self._hof("zip_with", fn, left, right)

    def aggregate(self, arr, init, merge) -> _Sql:
        return self._hof("aggregate", merge, arr, init)

    def _hof(self, name: str, fn, *args) -> _Sql:
        params = [self._fresh()
                  for _ in inspect.signature(fn).parameters]
        body = _sql_text(fn(*map(_Sql, params)))
        head = params[0] if len(params) == 1 else f"({', '.join(params)})"
        return _Sql(f"{name}({', '.join(map(_sql_text, args))}, "
                    f"{head} -> {body})")

    def _fresh(self) -> str:
        while True:
            name = f"lv{self._n}"
            self._n += 1
            if name not in self._taken:
                return name


def render(spec, x: Column | str, *args, **kw) -> Column:
    """Build ``spec(f, x, *args, **kw)``: a Column argument builds the
    Column tree with ``f = F``; a column NAME renders the same spec as
    SQL text over that column and parses it with ONE ``F.expr``.  The
    text holds no escape sequence, so it parses identically whatever
    the session's string-literal mode."""
    if isinstance(x, str):
        text = _sql_text(spec(_SqlFunctions(x), _Sql(_sql_ident(x)),
                              *args, **kw))
        return F.expr(text)
    return spec(F, x, *args, **kw)


def fs_write_json(spark, path: str, obj: dict) -> None:
    """Write ``obj`` as JSON to ``path`` through Hadoop's FileSystem —
    same-filesystem as the dataset it describes (local, HDFS, S3A…),
    unlike a driver-local ``open()``.  Overwrites."""
    import json

    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(obj).encode()))
    finally:
        out.close()


def fs_read_json(spark, path: str) -> dict:
    """Read a JSON file written by :func:`fs_write_json`.  Raises
    FileNotFoundError when absent."""
    import json

    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise FileNotFoundError(path)
    stream = fs.open(hpath)
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(data.decode())


def fs_mtime(spark, path: str) -> int:
    """Modification time (epoch millis) of ``path`` through Hadoop's
    FileSystem.  Raises FileNotFoundError when absent."""
    return fs_stat(spark, path)[0]


def fs_stat(spark, path: str) -> tuple[int, int]:
    """(mtime epoch millis, byte length) of ``path`` through Hadoop's
    FileSystem.  Raises FileNotFoundError when absent.  The pair is a
    stronger cache key than mtime alone: object stores report mtime at
    1 s granularity, so a rebuild-then-query inside the same second is
    only caught when the length moved too."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise FileNotFoundError(path)
    st = fs.getFileStatus(hpath)
    return st.getModificationTime(), st.getLen()
