"""One owner for every Spark cache the package creates.

The reference materializes only at the ``collect`` verb.  The persists
this package still needs go through here:

- ``with owned() as own:`` -- intermediates only one call reads (eager
  probes, loops, ``foreachBatch`` bodies).  ``own.persist(df)``
  persists, ``own.release(df)`` drops a handle early, and leaving the
  block drops the rest, also on an exception.
- ``hold(df, site)`` -- a persist backing a lazily RETURNED frame, so
  no point inside the call may release it.  The innermost
  :func:`scope` owns it; outside one, each ``site`` keeps at most one
  live handle per application (the next hold on a different plan
  releases it, one computing the same result shares its entry).
"""

from __future__ import annotations

import contextlib
import contextvars
import threading

from pyspark.sql import DataFrame

__all__ = ["scope"]

# holds of the innermost active scope() in this thread; a new thread
# (e.g. a foreachBatch callback) starts outside any scope
_SCOPE: contextvars.ContextVar[list | None] = contextvars.ContextVar(
    "pdt_storage_scope", default=None)
# unscoped holds: site -> (SparkContext, handle).  foreachBatch
# callbacks hold from another thread, so the swap takes _LOCK.
_HELD: dict[str, tuple] = {}
_LOCK = threading.Lock()


def _persist(df: DataFrame, level) -> DataFrame:
    return df.persist() if level is None else df.persist(level)


def _release(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        # a stopped session has nothing left to free, and a failed
        # release must not mask the caller's result or exception
        pass


def _same_result(a: DataFrame, b: DataFrame) -> bool:
    try:
        return a._jdf.queryExecution().analyzed().sameResult(
            b._jdf.queryExecution().analyzed())
    except Exception:
        # an unanswerable probe (no plan access, e.g. Spark Connect)
        # must not drop an entry the new handle may share
        return True


class _Owned:
    def __init__(self):
        self._handles: list[DataFrame] = []

    def persist(self, df: DataFrame, level=None) -> DataFrame:
        h = _persist(df, level)
        self._handles.append(h)
        return h

    def release(self, df: DataFrame) -> None:
        """Release ``df`` now; a frame this block did not persist is
        left alone."""
        if any(h is df for h in self._handles):
            self._handles = [h for h in self._handles if h is not df]
            _release(df)


@contextlib.contextmanager
def owned():
    own = _Owned()
    try:
        yield own
    finally:
        for h in reversed(own._handles):
            _release(h)


def hold(df: DataFrame, site: str, level=None) -> DataFrame:
    h = _persist(df, level)
    held = _SCOPE.get()
    if held is not None:
        held.append(h)
        return h
    sc = h.sparkSession.sparkContext
    with _LOCK:
        prev = _HELD.get(site)
        _HELD[site] = (sc, h)
    # a handle of a stopped application holds only dead JVM refs
    if (prev is not None and prev[0] is sc and prev[1] is not h
            and not _same_result(prev[1], h)):
        _release(prev[1])
    return h


@contextlib.contextmanager
def scope():
    """Own the caches that lazily returned results are built on.

    Every cache a package call inside the block persisted to back its
    returned frame (the probe buckets of ``minhash_index_lookup``, the
    gram table of ``bigram_lm_train``, ...) is released when the block
    exits, also on an exception.  Consume results inside the block to
    read the caches; a result consumed after it is still correct and
    recomputes instead.  Scopes nest: each releases what was held
    inside it.  Outside any scope, each operator keeps its latest
    such cache until its next call on a different plan::

        with pdt.scope():
            pairs = dedup.minhash_index_lookup(spark, path, new_docs)
            pairs.write.parquet(out)
    """
    held: list[DataFrame] = []
    token = _SCOPE.set(held)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for h in reversed(held):
            _release(h)
