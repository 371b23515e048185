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


def hadoop_fs(spark, path: str):
    """(Hadoop ``Path`` of ``path``, the ``FileSystem`` that serves it)
    — the one lookup every sidecar, listing and swap goes through, so
    index files live on the same filesystem (local, HDFS, S3A…) as the
    dataset they describe."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return hpath, fs


def fs_write_json(spark, path: str, obj: dict) -> None:
    """Write ``obj`` as JSON to ``path`` through Hadoop's FileSystem —
    same-filesystem as the dataset it describes (local, HDFS, S3A…),
    unlike a driver-local ``open()``.  Overwrites."""
    import json

    hpath, fs = hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(obj).encode()))
    finally:
        out.close()


def fs_read_json(spark, path: str) -> dict:
    """Read a JSON file written by :func:`fs_write_json`.  Raises
    FileNotFoundError when absent."""
    import json

    hpath, fs = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        raise FileNotFoundError(path)
    jvm = spark.sparkContext._jvm
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
    hpath, fs = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        raise FileNotFoundError(path)
    st = fs.getFileStatus(hpath)
    return st.getModificationTime(), st.getLen()


def recover_swap(spark, path: str, staging: str | None = None,
                 checkpoint: str | None = None, *,
                 verify: bool = False) -> str | None:
    """Finish or roll back a :func:`swap_in` that died mid-swap.  No-op
    (returns ``None``) when no ``<path>.__swap`` journal exists — strays
    without a journal are a crashed BUILD and are left for swap_in's own
    cleanup.  Otherwise the survivors decide (journal present):

    index ∧ .__new           -> roll BACK: delete .__new (build rerun)
    ¬index ∧ .__old ∧ .__new -> roll FORWARD: .__new -> index
    index ∧ .__old ∧ ¬.__new -> roll FORWARD: delete .__old
    ¬index ∧ .__old ∧ ¬.__new -> roll BACK: .__old -> index

    and the journal is deleted.  A roll FORWARD also finishes the
    interrupted run's reset phase on the staging/checkpoint roots the
    JOURNAL recorded: the swapped-in index already contains the staged
    rows, so a later fold would otherwise count them twice.

    A journal naming another index is refused.  ``verify=True`` (the
    :func:`swap_in` path) also refuses a journal that names another
    staging root than ``staging`` — a mismatched rerun must not reset a
    root whose rows were never folded.  ``verify=False`` (the
    standalone ``*_recover`` entry points) trusts the journal's own
    paths: the recovering process finishes whatever the interrupted run
    was doing, with that run's arguments."""
    hpath, fs = hadoop_fs(spark, path)
    P = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    new_p, old_p = path + ".__new", path + ".__old"
    journal = path + ".__swap"
    if not fs.exists(P(journal)):
        return None
    try:
        jrec = fs_read_json(spark, journal)
    except Exception:
        # a crash mid-journal-write can leave partial JSON; the journal
        # is written BEFORE the first rename, so an unreadable journal
        # means the swap never started — treat it as recording this
        # call's own paths
        jrec = {}
    j_staging = jrec.get("staging", staging)
    j_ckpt = jrec.get("checkpoint", checkpoint)
    if jrec.get("index", path) != path:
        raise IOError(
            f"swap journal {journal!r} records index "
            f"{jrec.get('index')!r} but this run was invoked for "
            f"{path!r}; refusing to recover")
    if verify and j_staging != staging:
        raise IOError(
            f"swap journal {journal!r} records staging root "
            f"{j_staging!r} but this run was invoked with "
            f"{staging!r}; rerun ivfpq_maintain with the "
            "journaled staging root to finish recovery first")
    has_idx, has_new, has_old = (fs.exists(hpath), fs.exists(P(new_p)),
                                 fs.exists(P(old_p)))
    recovered = None
    roll_forward = False
    if has_idx and has_new:
        fs.delete(P(new_p), True)
        recovered = "rolled_back_stale_new"
    elif not has_idx and has_old and has_new:
        if not fs.rename(P(new_p), hpath):
            raise IOError(f"recovery rename {new_p} -> {path} failed")
        fs.delete(P(old_p), True)
        recovered, roll_forward = "rolled_forward_new", True
    elif has_idx and has_old:
        fs.delete(P(old_p), True)
        recovered, roll_forward = "rolled_forward_cleanup", True
    elif not has_idx and has_old:
        if not fs.rename(P(old_p), hpath):
            raise IOError(f"recovery rename {old_p} -> {path} failed")
        recovered = "rolled_back_old"
    fs.delete(P(journal), False)
    if roll_forward:
        for root in (j_staging, j_ckpt):
            if root is not None:
                fs.delete(P(root), True)
    return recovered


def swap_in(spark, path: str, build, *, staging: str | None = None,
            checkpoint: str | None = None) -> dict:
    """Rebuild the persisted index at ``path`` and swap the result in
    crash-safely: the one protocol behind ``minhash_index_maintain``
    and ``ivfpq_maintain``.  ``build(out_path)`` writes the fresh index
    (data and sidecar) to ``out_path`` and returns its stats;
    ``staging``/``checkpoint`` are roots whose contents the build folds
    in, reset once the swap has landed.

    1. **recover** — :func:`recover_swap` (``verify=True``) finishes or
       rolls back a previous run that died mid-swap, then any stale
       ``.__new``/``.__old`` is dropped.
    2. **build** — into ``<path>.__new``.  The EXPENSIVE phase; the
       live index is read-only input and stays fully queryable.  A
       crash here leaves a stale ``.__new`` that the next run deletes —
       nothing else changed.
    3. **swap** — write the journal ``<path>.__swap`` (index, staging
       and checkpoint paths), then: ``index -> .__old``, ``.__new ->
       index``, delete ``.__old``, delete the journal.  Each rename is
       a metadata-only directory move (atomic on HDFS/local; on object
       stores prefer a catalog-level pointer swap).  The only instant
       ``path`` does not resolve is between the two renames; a crash
       inside it is repaired forward by recovery (``.__new`` is
       complete by construction once the journal exists).
    4. **reset** — delete staging and checkpoint.  Safe to redo: after
       the swap the staged rows live in the index, so a crash between
       swap and reset only risks DOUBLE-listing them, never loss, and
       the next run folds it away.

    Returns the build's stats + {"recovered": <recover_swap's action
    or None>}."""
    hpath, fs = hadoop_fs(spark, path)
    P = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    new_p, old_p = path + ".__new", path + ".__old"
    journal = path + ".__swap"
    recovered = recover_swap(spark, path, staging, checkpoint, verify=True)
    for stale in (new_p, old_p):
        if fs.exists(P(stale)):
            fs.delete(P(stale), True)
    stats = build(new_p)
    fs_write_json(spark, journal, {
        "index": path, "staging": staging, "checkpoint": checkpoint,
    })
    if not fs.rename(hpath, P(old_p)):
        raise IOError(f"swap rename {path} -> {old_p} failed")
    if not fs.rename(P(new_p), hpath):
        raise IOError(f"swap rename {new_p} -> {path} failed")
    fs.delete(P(old_p), True)
    fs.delete(P(journal), False)
    for root in (staging, checkpoint):
        if root is not None:
            fs.delete(P(root), True)
    return {**stats, "recovered": recovered}


def _partition_footer_rows(path: str, key: str) -> list[list[int]] | None:
    """Per-file parquet row counts under each ``key=...`` partition dir
    of a local dataset, read from file FOOTERS only (pyarrow metadata;
    no Spark job, no data pages), one list per partition dir in sorted
    order.  ``None`` when the path is not a local directory or a footer
    cannot be read (remote filesystems, pyarrow-less hosts) — callers
    then pick their own fallback.  ``file:`` URIs are parsed with
    urllib, so all three Spark/Hadoop spellings — ``file:/p``,
    ``file://p``, ``file:///p`` — resolve to the same local path."""
    import glob as _glob
    import os as _os

    if path.startswith("file:"):
        from urllib.parse import urlparse
        from urllib.request import url2pathname

        p = urlparse(path)
        # file:/path (no netloc) and file:///path both leave the path
        # component; file://host/path would name a remote host — only
        # empty/localhost netlocs are local
        if p.netloc not in ("", "localhost"):
            return None
        local = url2pathname(p.path)
    else:
        local = path
    if not _os.path.isdir(local):
        return None
    try:
        import pyarrow.parquet as _pq

        return [
            [_pq.ParquetFile(f).metadata.num_rows
             for f in _glob.glob(_os.path.join(d, "*.parquet"))]
            for d in sorted(_glob.glob(_os.path.join(local, f"{key}=*")))
            if _os.path.isdir(d)
        ]
    except Exception:
        return None
