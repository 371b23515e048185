"""Sources: construct Tables from files, in-memory data, and catalogs.

The reference accepts polars/pandas/dict/SQLAlchemy inputs
(reference backend/table_impl.py:55-115); here everything funnels into
``spark.read`` / ``spark.createDataFrame`` so scans get predicate
pushdown, column pruning and partition pruning from Catalyst.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..table import Table

__all__ = [
    "read_parquet", "read_csv", "read_json", "read_orc", "read_table",
    "read_jdbc", "from_pandas", "from_polars", "from_dict", "from_rows",
]


def _name_from_path(path: str) -> str:
    base = path.rstrip("/").rsplit("/", 1)[-1]
    return base.split(".")[0]


# ---------------------------------------------------------------------------
# Schema-memoized parquet reads (r14, guide §1.2 "don't compute things
# you throw away" on the driver): EVERY `spark.read.parquet(path)` call
# runs a ~0.15-0.2 s parquet footer schema-inference JOB, even for a
# path read moments earlier.  A pipeline that touches 8 dimension
# tables pays 8 such jobs per plan build.  We memoize the INFERRED
# SCHEMA per (application, path) and pass it explicitly on later reads
# (0 jobs).  This is metadata caching only — every returned frame
# recomputes its data from the files.  The cache entry carries a local
# filesystem fingerprint (file count / bytes / max mtime plus a sorted
# per-file (name, size, mtime, inode, ctime) digest); when the files
# changed, or the path is not confidently local, we fall back to plain
# inference, so a rewritten path can never be misread.  Entries of
# stopped applications are evicted on access (r15).
# ---------------------------------------------------------------------------

_SCHEMA_CACHE: dict = {}
_FP_MAX_FILES = 4096


def _local_fingerprint(path: str):
    import itertools
    import os
    import stat as _stat

    p = path
    if p.startswith("file:"):
        from urllib.parse import urlparse
        from urllib.request import url2pathname

        u = urlparse(p)
        if u.netloc not in ("", "localhost"):
            return None
        p = url2pathname(u.path)
    elif "://" in p:
        return None
    try:
        st = os.stat(p)
    except OSError:
        return None
    # a single-file path is a one-entry walk: one code path, one digest
    walk = ((os.path.join(root, f) for root, _dirs, fs in os.walk(p)
             for f in fs) if _stat.S_ISDIR(st.st_mode) else [p])
    files = list(itertools.islice(walk, _FP_MAX_FILES + 1))
    if len(files) > _FP_MAX_FILES:
        # too many files to fingerprint cheaply — skip caching
        return None
    sz = mt = 0
    entries = []
    for fp in files:
        try:
            fst = os.stat(fp)
        except OSError:
            return None
        sz += fst.st_size
        mt = max(mt, fst.st_mtime_ns)
        entries.append((os.path.relpath(fp, p), fst.st_size,
                        fst.st_mtime_ns, fst.st_ino, fst.st_ctime_ns))
    # per-file digest (r15, ADVICE r14): the aggregate (count, bytes,
    # max-mtime) triple could serve a stale schema after a same-size
    # rewrite.  (name, size, mtime) alone still misses one landing
    # within one mtime tick, or with its mtime restored; a rewrite
    # changes the inode (write-and-rename) or the ctime (in place),
    # which no user call can set back
    import hashlib

    h = hashlib.sha256()
    for e in sorted(entries):
        h.update(repr(e).encode())
    return (len(files), sz, mt, h.hexdigest())


def spark_read_parquet(spark: SparkSession, path: str):
    """`spark.read.parquet` with the inferred schema memoized per
    (application, path) and invalidated by a local file fingerprint —
    identical frames, no repeated schema-inference job."""
    fp = _local_fingerprint(path)
    if fp is None:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path)
    # evict entries of STOPPED applications (r15, ADVICE r14: the dict
    # otherwise grows without bound across restarted sessions in one
    # long-lived process) — any key whose applicationId is not the
    # active one is dead, since schemas are only consulted same-app
    for k in list(_SCHEMA_CACHE):
        if k[0] != key[0]:
            _SCHEMA_CACHE.pop(k, None)
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = (fp, df.schema)
    return df


def _quiet_derby(spark: SparkSession, url: str) -> None:
    """Embedded Derby writes ``derby.log`` into the CWD the first time
    it boots, polluting whatever directory the process happened to run
    from (VERDICT r9 nit #1).  Point ``derby.stream.error.file`` into
    the JVM's tmp dir BEFORE the driver loads; best-effort — once
    Derby has booted in this JVM the property is latched."""
    if not url.startswith("jdbc:derby:"):
        return
    try:
        jvm = spark.sparkContext._jvm
        if jvm.System.getProperty("derby.stream.error.file") is None:
            import os
            import tempfile

            jvm.System.setProperty(
                "derby.stream.error.file",
                os.path.join(tempfile.gettempdir(), "derby.log"))
    except Exception:  # pragma: no cover - py4j edge; cosmetic only
        pass


def read_parquet(spark: SparkSession, path: str, name: str | None = None
                 ) -> Table:
    return Table(spark_read_parquet(spark, path),
                 name or _name_from_path(path))


def read_csv(spark: SparkSession, path: str, name: str | None = None,
             header: bool = True, schema=None, **options) -> Table:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
        df = reader.csv(path, header=header)
    else:
        df = reader.csv(path, header=header, inferSchema=True)
    return Table(df, name or _name_from_path(path))


def read_json(spark: SparkSession, path: str, name: str | None = None,
              schema=None, **options) -> Table:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return Table(reader.json(path), name or _name_from_path(path))


def read_orc(spark: SparkSession, path: str, name: str | None = None) -> Table:
    return Table(spark.read.orc(path), name or _name_from_path(path))


def read_table(spark: SparkSession, table_name: str,
               name: str | None = None) -> Table:
    """A table registered in the Spark catalog (hive/temp view/iceberg...)."""
    return Table(spark.table(table_name), name or table_name.split(".")[-1])


def read_jdbc(spark: SparkSession, url: str, dbtable: str,
              name: str | None = None, *,
              partition_column: str | None = None,
              lower_bound=None, upper_bound=None,
              num_partitions: int | None = None, **options) -> Table:
    """JDBC source.  Without partitioning options the read is ONE
    task pulling the whole table through a single connection — fine
    for dimension-sized tables, a bottleneck for anything big.  Pass
    ``partition_column`` (a numeric/date/timestamp column) together
    with ``lower_bound`` / ``upper_bound`` / ``num_partitions`` and
    Spark issues ``num_partitions`` range-predicated queries in
    parallel, one connection per task (the bounds only steer stride
    computation — rows outside them are still read, into the edge
    partitions).  All four must be given together (Spark's own JDBC
    contract).  Any extra ``**options`` (driver, fetchsize,
    sessionInitStatement, predicates via ``.option``-style keys) pass
    straight through."""
    part = {"partitionColumn": partition_column,
            "lowerBound": lower_bound, "upperBound": upper_bound,
            "numPartitions": num_partitions}
    given = {k: v for k, v in part.items() if v is not None}
    if given and len(given) < 4:
        missing = sorted(set(part) - set(given))
        raise ValueError(
            "partitioned JDBC read needs partition_column, lower_bound,"
            f" upper_bound AND num_partitions together — missing "
            f"{missing}")
    _quiet_derby(spark, url)
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", dbtable)
        .options(**options)
    )
    for k, v in given.items():
        reader = reader.option(k, str(v))
    return Table(reader.load(), name or dbtable.split(".")[-1])


def from_pandas(spark: SparkSession, pdf, name: str | None = None) -> Table:
    from ..table import _to_spark_df

    df, overrides = _to_spark_df(pdf, spark)
    return Table(df, name or "pandas", _dtype_overrides=overrides)


def from_polars(spark: SparkSession, pldf, name: str | None = None) -> Table:
    from ..table import _to_spark_df

    df, overrides = _to_spark_df(pldf, spark)
    return Table(df, name or "polars", _dtype_overrides=overrides)


def from_dict(spark: SparkSession, data: dict, name: str | None = None
              ) -> Table:
    """Column-oriented dict {col: [values]} (reference accepts the same).

    Row-based construction, NOT via pandas: a pandas float column turns
    ``None`` into NaN, silently changing null semantics — the reference
    (polars ingestion) keeps None as a true null.  ``datetime.time``
    values land as the Time dtype (µs-since-midnight longs, r14)."""
    from ..table import _to_spark_df

    df, overrides = _to_spark_df(data, spark)
    return Table(df, name or "dict", _dtype_overrides=overrides)


def from_rows(spark: SparkSession, rows, schema=None,
              name: str | None = None) -> Table:
    return Table(spark.createDataFrame(rows, schema=schema), name or "rows")
