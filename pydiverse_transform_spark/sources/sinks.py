"""File/catalog sinks — the write-side complement of sources
(the reference only materializes in-memory via export; at 100 TB the
output of a pipeline is a partitioned columnar table, so these are
first-class here).

All sinks take the VISIBLE columns with display names (same frame
``export`` would produce) and return the input table so they compose in
a pipe: ``t >> write_parquet(path, partition_by=["dt"]) >> ...``.
"""

from __future__ import annotations

import os

from ..operators.pipeable import verb
from ..table import Table

__all__ = ["write_parquet", "write_csv", "write_json", "write_orc",
           "write_jdbc", "save_as_table", "write_time_partitioned",
           "write_sorted", "write_zorder", "zorder_key",
           "rowgroup_pruning_stats", "compact_parquet",
           "dataset_manifest", "write_manifest"]


def _writer(table: Table, mode: str, partition_by, **options):
    w = table.to_spark().write.mode(mode).options(**options)
    if partition_by:
        if not isinstance(partition_by, (list, tuple)):
            partition_by = [partition_by]
        # accept Col/ColName/str like every other verb
        names = [
            table._cols[table._resolve_uuid(c)].name for c in partition_by
        ]
        w = w.partitionBy(*names)
    return w


@verb
def write_parquet(table: Table, path: str, *, mode: str = "error",
                  partition_by=None, **options) -> Table:
    """Columnar sink of choice: partition columns become directory keys
    (partition pruning on re-read), stats in footers drive predicate
    pushdown."""
    _writer(table, mode, partition_by, **options).parquet(path)
    return table


@verb
def write_csv(table: Table, path: str, *, mode: str = "error",
              partition_by=None, header: bool = True, **options) -> Table:
    _writer(table, mode, partition_by, header=header, **options).csv(path)
    return table


@verb
def write_json(table: Table, path: str, *, mode: str = "error",
               partition_by=None, **options) -> Table:
    _writer(table, mode, partition_by, **options).json(path)
    return table


@verb
def write_jdbc(table: Table, url: str, dbtable: str, *,
               mode: str = "error", **options) -> Table:
    """JDBC sink — the write twin of ``read_jdbc`` (reference:
    src/pydiverse/transform/_internal/backend/targets.py SqlAlchemy
    target; here the engine stays Spark and SQL stores are I/O
    endpoints).  Each task opens its own connection, so the driver
    class must be reachable from EXECUTORS — an embedded single-JVM
    store (Derby/H2/SQLite) only works in local mode; on a cluster use
    a networked url.  ``mode="overwrite"`` drops and recreates the
    table (add truncate=true to keep the DDL)."""
    from . import _quiet_derby

    _quiet_derby(table.to_spark().sparkSession, url)
    (table.to_spark().write.format("jdbc")
     .option("url", url).option("dbtable", dbtable)
     .options(**options).mode(mode).save())
    return table


@verb
def write_orc(table: Table, path: str, *, mode: str = "error",
              partition_by=None, **options) -> Table:
    _writer(table, mode, partition_by, **options).orc(path)
    return table


@verb
def save_as_table(table: Table, name: str, *, mode: str = "error",
                  partition_by=None, format: str | None = None,
                  bucket_by: tuple[int, list] | None = None,
                  sort_by=None, **options) -> Table:
    """Catalog sink (hive metastore / in-session catalog / iceberg when
    the catalog provides it).

    ``bucket_by=(n, cols)`` hash-buckets the table on write — two tables
    bucketed identically on their join key co-locate, so the join reads
    both WITHOUT a shuffle (the 100-TB fact-fact join strategy; see
    tests/test_bucketed_join.py for the plan proof).  ``sort_by`` sorts
    within each bucket, letting a sort-merge join skip its sort too.
    Bucketing requires a catalog table (Spark restriction), hence only
    here and not on the path-based sinks."""
    w = _writer(table, mode, partition_by, **options)
    if format:
        w = w.format(format)
    if bucket_by is not None:
        n, cols = bucket_by
        if not isinstance(cols, (list, tuple)):
            cols = [cols]
        names = [table._cols[table._resolve_uuid(c)].name for c in cols]
        w = w.bucketBy(n, *names)
        if sort_by is not None:
            if not isinstance(sort_by, (list, tuple)):
                sort_by = [sort_by]
            snames = [
                table._cols[table._resolve_uuid(c)].name for c in sort_by
            ]
            w = w.sortBy(*snames)
    w.saveAsTable(name)
    return table


@verb
def write_time_partitioned(table: Table, path: str, ts_col, *,
                           granularity: str = "day",
                           partition_col: str = "dt",
                           mode: str = "overwrite") -> Table:
    """Time-partitioned parquet sink: derives a coarse time key (day /
    month / hour) from ``ts_col`` and writes it as the partition column,
    so any date-bounded re-read prunes whole directories at the scan
    (PartitionFilters — metadata only, zero I/O for other days).  The
    100-TB layout for event/document corpora; plan proof in
    tests/test_time_partitioned.py."""
    from ..extras.events import write_time_partitioned as _wtp

    name = table._cols[table._resolve_uuid(ts_col)].name
    _wtp(table.to_spark(), path, ts_col=name, granularity=granularity,
         partition_col=partition_col, mode=mode)
    return table


@verb
def write_sorted(table: Table, path: str, sort_by, *,
                 mode: str = "overwrite", num_files: int | None = None,
                 descending: bool = False, **options) -> Table:
    """Globally range-sorted parquet sink: ONE range shuffle
    (repartitionByRange samples the key distribution so output files get
    balanced, non-overlapping key ranges) + an in-partition sort, then
    plain file writes.  The result is a total order across files: file
    i's key range ends before file i+1's begins, and parquet min/max
    footer stats per file are TIGHT, so any key-range predicate on
    re-read skips whole files (row-group stats pruning) — the cheap
    alternative to a partitioned directory layout when the sort key is
    continuous (timestamps, ids) rather than low-cardinality.
    Layout proof: tests/test_write_sorted.py asserts disjoint,
    ordered per-file ranges."""
    if not isinstance(sort_by, (list, tuple)):
        sort_by = [sort_by]
    names = [table._cols[table._resolve_uuid(c)].name for c in sort_by]
    from pyspark.sql import functions as F

    df = table.to_spark()
    cols = [F.col(n).desc() if descending else F.col(n).asc()
            for n in names]
    if num_files is not None:
        ranged = df.repartitionByRange(num_files, *cols)
    else:
        ranged = df.repartitionByRange(*cols)
    (
        ranged.sortWithinPartitions(*cols)
        .write.mode(mode).options(**options).parquet(path)
    )
    return table


# ---------------------------------------------------------------------------
# Z-order (Morton-curve) clustered layout.  write_sorted gives tight
# min/max footer stats on ONE key; a 2-D predicate (user AND time, key
# AND date...) on a single-sorted layout still reads every row group
# that matches the FIRST key.  Interleaving the bits of rank-bucketed
# keys makes every row group a small hyper-rectangle in key space, so
# parquet row-group/page stats prune on EVERY z-ordered dimension at
# once — the standard clustered-layout trick (Morton 1966; the same
# layout Delta/Iceberg expose as OPTIMIZE ... ZORDER BY), built here
# from public Spark primitives: approxQuantile boundaries (driver-side,
# 2^bits scalars per dim — meta-sized), a log-depth codegen
# binary-search bucketizer, bit interleave as integer arithmetic, one
# repartitionByRange on the z-value.  Layout-only: row CONTENT is
# untouched, so any query over the layout equals the same query over
# the raw table (the oracle contract for q_zorder_scan).
# ---------------------------------------------------------------------------


def _zq_bounds(df, name: str, bits: int) -> list:
    """Distinct interior quantile boundaries of ``df[name]`` cast to
    double (2^bits - 1 requested; duplicates collapse on skew)."""
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    qs = df.stat.approxQuantile(name, probs, 1.0 / (1 << (bits + 2)))
    return sorted(set(qs))


def _zq_bucket(col, bounds: list):
    """Log-depth binary-search bucket index (0..len(bounds)) as a
    nested when-tree — codegen-friendly, no higher-order functions."""
    from pyspark.sql import functions as F

    def rec(lo: int, hi: int):
        # invariant: value belongs to bucket in [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (
            F.when(col <= F.lit(bounds[mid]), rec(lo, mid))
            .otherwise(rec(mid + 1, hi))
        )

    if not bounds:
        return F.lit(0)
    return rec(0, len(bounds))


def zorder_key(df, by: list[str], *, bits: int = 8):
    """``(df + __z column, meta)``: the Morton interleave of the
    rank-bucketed ``by`` columns.  ``bits`` per dimension, capped at
    12: the bucketizer requests ``2^bits - 1`` approxQuantile probes
    and compiles a when-tree with up to ``2^bits`` leaves PER
    DIMENSION, so the per-dim cost is the real limit — 12 bits = 4096
    rank buckets per dimension, already far finer than any
    file/row-group layout resolves, while bits=20+ would mean a
    million-probe quantile job and a million-node Catalyst plan long
    before the 60-bit interleave arithmetic cap bites.  Total z-bits =
    ``bits * len(by)`` <= 60 so the interleave stays in one long.
    Numeric / timestamp / date columns only — ranks come from
    approxQuantile."""
    from pyspark.sql import functions as F

    if not isinstance(by, (list, tuple)) or len(by) < 1:
        raise ValueError("by must be a non-empty list of column names")
    d = len(by)
    if not 1 <= bits <= 12:
        raise ValueError(
            f"bits must be in 1..12, got {bits}: 2^bits quantile "
            "probes and when-tree leaves are built PER DIMENSION, so "
            "larger values explode the driver plan for no extra "
            "file-level clustering resolution")
    if bits * d > 60:
        raise ValueError(f"bits*len(by) = {bits * d} exceeds 60")
    dtypes = dict(df.dtypes)

    def as_double(c: str):
        t = dtypes.get(c, "")
        if t.startswith("timestamp"):
            # NTZ has no direct numeric cast; the session timezone is
            # pinned to UTC engine-wide, so the micros are stable
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        if t == "date":
            return F.unix_date(F.col(c)).cast("double")
        return F.col(c).cast("double")

    casted = df.select(
        "*",
        *[as_double(c).alias(f"__zq{i}") for i, c in enumerate(by)],
    )
    meta = {"by": list(by), "bits": bits, "bounds": {}}
    z = F.lit(0).cast("long")
    for i, c in enumerate(by):
        bounds = _zq_bounds(casted, f"__zq{i}", bits)
        meta["bounds"][c] = bounds
        bucket = _zq_bucket(F.col(f"__zq{i}"), bounds).cast("long")
        # low-cardinality dims collapse to few quantile buckets; spread
        # the surviving indices across the FULL 2^bits range so the
        # dimension still drives the interleave's high bits (otherwise
        # its top bits are constant zero and the z-order degenerates to
        # a single-key sort on the other dimensions)
        n_b = len(bounds) + 1
        if n_b < (1 << bits) and n_b > 1:
            bucket = (bucket * F.lit(((1 << bits) - 1) // (n_b - 1))
                      ).cast("long")
        for b in range(bits):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, b * d + i))
    out = casted.withColumn("__z", z).drop(
        *[f"__zq{i}" for i in range(d)])
    return out, meta


@verb
def write_zorder(table: Table, path: str, by, *,
                 bits: int = 8, num_files: int | None = None,
                 mode: str = "overwrite", **options) -> Table:
    """Z-order-clustered parquet sink: one range shuffle on the Morton
    key (repartitionByRange samples the z distribution, so files get
    balanced, non-overlapping z ranges) + in-partition sort, then plain
    writes.  Every output row group covers a small rectangle of the
    ``by`` key space, so re-reads with predicates on ANY subset of the
    z-ordered columns skip row groups via footer stats — the multi-key
    complement of :func:`write_sorted`.  Layout proof + pruning
    measurement: tests/test_zorder.py and
    :func:`rowgroup_pruning_stats`."""
    if not isinstance(by, (list, tuple)):
        by = [by]
    names = [table._cols[table._resolve_uuid(c)].name for c in by]
    zdf, _ = zorder_key(table.to_spark(), names, bits=bits)
    if num_files is not None:
        ranged = zdf.repartitionByRange(num_files, "__z")
    else:
        ranged = zdf.repartitionByRange("__z")
    (
        ranged.sortWithinPartitions("__z").drop("__z")
        .write.mode(mode).options(**options).parquet(path)
    )
    return table


def rowgroup_pruning_stats(path: str, predicates: dict) -> dict:
    """Measure parquet row-group min/max pruning for a conjunction of
    range predicates ``{col: (lo, hi)}`` (inclusive; None = open end)
    WITHOUT running a query: walks every row group's footer stats with
    pyarrow and counts the groups whose [min, max] envelope intersects
    every predicate — exactly the set a stats-pruning reader must
    read.  Local-filesystem paths (tests/bench evidence; production
    readers get the same skipping from Spark's parquet filter
    pushdown)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    files = sorted(
        _glob.glob(os.path.join(path, "*.parquet"))
        or _glob.glob(os.path.join(path, "**", "*.parquet"),
                      recursive=True)
    )
    total = kept = 0
    rows_total = rows_kept = 0
    for f in files:
        md = _pq.ParquetFile(f).metadata
        idx = {md.schema.column(j).name: j
               for j in range(md.num_columns)}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            total += 1
            rows_total += rg.num_rows
            hit = True
            for col, (lo, hi) in predicates.items():
                st = rg.column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    continue  # no stats -> not prunable, must read
                if (hi is not None and st.min > hi) or (
                        lo is not None and st.max < lo):
                    hit = False
                    break
            if hit:
                kept += 1
                rows_kept += rg.num_rows
    return {"row_groups_total": total, "row_groups_read": kept,
            "rows_total": rows_total, "rows_read_upper_bound": rows_kept,
            "n_files": len(files)}


# ---------------------------------------------------------------------------
# Operational sinks: small-file compaction and dataset manifests.  At the
# 100-TB target a pipeline's output health is measured in FILES as much as
# rows — thousands of tiny files destroy scan throughput (per-file open
# cost, tiny row groups, NameNode/listing pressure), and downstream
# consumers need dataset-level stats without a full scan.
# ---------------------------------------------------------------------------

def _hadoop_files(spark, path: str):
    """(path, size_bytes) for every data file under ``path``, via the
    JVM Hadoop FileSystem (works on any supported scheme: file://,
    hdfs://, s3a://...)."""
    from ..extras.util import hadoop_fs

    hpath, fs = hadoop_fs(spark, path)
    root = fs.makeQualified(hpath).toString().rstrip("/")
    out = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        # hidden-path contract must match Spark's scan: a file is
        # skipped if ANY component below the root starts with _ or .
        # (basename-only filtering counted _spark_metadata/0 commit
        # logs as data files and inflated compaction sizing)
        rel = full[len(root):].lstrip("/") if full.startswith(root) \
            else st.getPath().getName()
        if any(c.startswith("_") or c.startswith(".")
               for c in rel.split("/")):
            continue  # _SUCCESS, _spark_metadata/*, checksums
        out.append((full, int(st.getLen())))
    return out


def compact_parquet(spark, path, out_path: str, *,
                    target_file_bytes: int = 128 << 20,
                    partition_by: list[str] | None = None,
                    shuffle: bool = False,
                    dedup_cols: list[str] | None = None,
                    zorder_by: list[str] | None = None,
                    zorder_bits: int = 8,
                    mode: str = "error") -> dict:
    """Compact a small-file parquet dataset into ~``target_file_bytes``
    files at ``out_path`` (the standard maintenance pass after a
    streaming sink or an over-parallel write).

    File count is sized from the ACTUAL on-disk bytes (Hadoop listing —
    no scan), not a row-count guess.  ``shuffle=False`` (default) uses
    ``coalesce`` — a metadata-only narrow dependency, zero shuffle: the
    right mode for pure compaction.  ``shuffle=True`` repartitions for
    balanced output when the input is skewed.  With ``partition_by``
    the data is hash-clustered on the partition keys first so each
    output task holds few partition values (without it, coalesce +
    partitionBy would make every task write a file per key it holds —
    MORE files, not fewer).

    ``path`` may be a LIST of roots carrying the same layout (e.g. a
    base dataset plus a streaming staging root) — each root is read
    separately and unioned (a single multi-root read of partitioned
    layouts trips CONFLICTING_DIRECTORY_STRUCTURES), so compaction
    doubles as the staging-fold maintenance pass.

    ``dedup_cols`` drops duplicate rows on those key columns during the
    rewrite (one extra shuffle on the key) — the maintenance hook for
    at-least-once streaming appends whose replays re-append identical
    rows.  CONTRACT: rows sharing a key must be BYTE-IDENTICAL replays
    (the unique-id guarantee every streaming lane here assumes) —
    ``dropDuplicates`` keeps an ARBITRARY row per key, so if a key was
    re-appended with CHANGED content (an update, not a replay), which
    version survives is nondeterministic.  Updates need a versioned
    merge (e.g. max-timestamp row per key), not this pass.  File
    sizing still uses the pre-dedup listing bytes, so heavily
    duplicated inputs compact into slightly undersized files.

    ``zorder_by`` re-CLUSTERS while compacting (the OPTIMIZE ... ZORDER
    BY maintenance shape): output files get balanced, non-overlapping
    Morton-key ranges via :func:`zorder_key` + one range shuffle, so
    the compacted layout additionally prunes row groups on every
    z-ordered column (see :func:`write_zorder`).  Single-dimension
    pruning sharpness scales with file count (each file pins
    ~log2(n_files)/n_dims high bits per dimension), so very aggressive
    compaction trades away clustering granularity — at 100 TB both
    knobs are large and this is moot, but tiny datasets compacted to a
    handful of files prune mostly on the full box.  Mutually exclusive
    with ``partition_by``/``shuffle`` (each prescribes its own
    physical layout).

    In-place compaction is refused: Spark cannot atomically overwrite a
    path it is reading; write to ``out_path`` and swap at the catalog /
    directory level.  Returns {files_before, bytes, n_files_target}."""
    paths = [path] if isinstance(path, str) else list(path)

    def _norm(p: str) -> str:
        # scheme-aware: abspath would mangle s3a://... URIs
        return (p.rstrip("/") if "://" in p
                else os.path.abspath(p).rstrip("/"))

    if any(_norm(out_path) == _norm(p) for p in paths):
        raise ValueError(
            "compact_parquet: out_path must differ from path — Spark "
            "cannot overwrite a dataset it is reading; write to a new "
            "directory and swap it in afterwards")
    files = [f for p in paths for f in _hadoop_files(spark, p)]
    total = sum(sz for _, sz in files)
    n_target = max(1, -(-total // int(target_file_bytes)))
    df = spark.read.parquet(paths[0])
    for p in paths[1:]:
        df = df.unionByName(spark.read.parquet(p))
    if dedup_cols:
        df = df.dropDuplicates(dedup_cols)
    if zorder_by:
        if partition_by or shuffle:
            raise ValueError(
                "compact_parquet: zorder_by is mutually exclusive with "
                "partition_by/shuffle — each prescribes its own layout")
        zdf, _ = zorder_key(df, list(zorder_by), bits=zorder_bits)
        (
            zdf.repartitionByRange(n_target, "__z")
            .sortWithinPartitions("__z").drop("__z")
            .write.mode(mode).parquet(out_path)
        )
        return {"files_before": len(files), "bytes": total,
                "n_files_target": n_target}
    if partition_by:
        from pyspark.sql import functions as F

        clustered = df.repartition(n_target,
                                   *[F.col(c) for c in partition_by])
        clustered.write.mode(mode).partitionBy(*partition_by) \
            .parquet(out_path)
    elif shuffle:
        df.repartition(n_target).write.mode(mode).parquet(out_path)
    else:
        df.coalesce(n_target).write.mode(mode).parquet(out_path)
    return {"files_before": len(files), "bytes": total,
            "n_files_target": n_target}


def dataset_manifest(spark, path: str,
                     partition_cols: list[str] | None = None) -> dict:
    """Dataset-level stats: file count/bytes from the Hadoop listing
    (no scan) + row counts overall and per partition-column value (one
    count-star aggregate — parquet answers it from footer metadata,
    no data pages read).  The cheap contract a downstream consumer
    checks before a 100-TB read."""
    from pyspark.sql import functions as F

    files = _hadoop_files(spark, path)
    df = spark.read.parquet(path)
    out = {
        "path": path,
        "n_files": len(files),
        "total_bytes": sum(sz for _, sz in files),
        "n_rows": df.count(),
        "schema": [(f.name, f.dataType.simpleString())
                   for f in df.schema.fields],
    }
    if partition_cols:
        rows = (
            df.groupBy(*partition_cols)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .collect()
        )
        out["partitions"] = [
            {"values": {c: (None if r[c] is None else str(r[c]))
                        for c in partition_cols},
             "n_rows": int(r["n_rows"])}
            for r in sorted(rows, key=lambda r: tuple(
                str(r[c]) for c in partition_cols))
        ]
    return out


def write_manifest(spark, path: str,
                   partition_cols: list[str] | None = None,
                   filename: str = "_manifest.json") -> dict:
    """Compute :func:`dataset_manifest` and persist it as a JSON
    sidecar inside the dataset directory (underscore-prefixed, so scans
    ignore it like _SUCCESS).  Returns the manifest."""
    from ..extras.util import fs_write_json

    man = dataset_manifest(spark, path, partition_cols)
    fs_write_json(spark, path + "/" + filename, man)
    return man
