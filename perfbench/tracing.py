"""Spans recorded from outside the engine, for the traced benchmark run.

A span covers one call into a layer: its name is ``<layer>.<what>``, it
knows its parent and the request it belongs to, and it carries counters
read at its two boundaries (py4j commands sent, Spark job and stage ids
allocated).  A span's *self* share of any of these is its own share
minus what its children cover, so nested calls (an extras operator that
applies DSL verbs, an export that runs an action) are not counted twice.

Nothing here imports Spark: the id reader and the patch targets are
passed in, so the arithmetic is testable on its own.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from py4j import protocol

# py4j commands that do work on the JVM side.  The GC's "memory"
# (delete) commands are left out: they are sent whenever Python happens
# to collect a JavaObject, so counting them makes the same build read
# differently from pass to pass.
COUNTED_COMMANDS = (protocol.CALL_COMMAND_NAME,
                    protocol.CONSTRUCTOR_COMMAND_NAME)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float
    jobs: tuple[int, int]
    stages: tuple[int, int]
    py4j: int = 0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    children: list[Span] = field(default_factory=list, repr=False)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    def as_record(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "request": self.request, "start": self.start,
                "end": self.end, "self_s": self_time(self),
                "py4j": self.py4j, "jobs": list(self.jobs),
                "stages": list(self.stages), **self.attrs}


def covered(start: float, end: float,
            intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span) -> float:
    return (span.end - span.start) - covered(
        span.start, span.end, [(c.start, c.end) for c in span.children])


def self_ids(span: Span, kind: str) -> list[int]:
    """Job or stage ids allocated while ``span`` was innermost."""
    lo, hi = getattr(span, kind)
    taken = set()
    for c in span.children:
        taken.update(range(*getattr(c, kind)))
    return [i for i in range(lo, hi) if i not in taken]


def self_py4j(span: Span) -> int:
    return span.py4j - sum(c.py4j for c in span.children)


class Tracer:
    """Keeps spans in memory; ``next_ids`` returns the next Spark
    (job id, stage id) pair.  Its own py4j traffic is not counted."""

    def __init__(self, next_ids: Callable[[], tuple[int, int]]):
        self._next_ids = next_ids
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request: int | None = None
        self._py4j = 0
        self._paused = False

    def count_command(self, command: str) -> None:
        if not self._paused and command.startswith(COUNTED_COMMANDS):
            self._py4j += 1

    def _ids(self) -> tuple[int, int]:
        self._paused = True
        try:
            return self._next_ids()
        finally:
            self._paused = False

    def innermost(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def open(self, name: str, request: int | None = None, **attrs) -> Span:
        parent = self.innermost()
        if parent is None:
            self._request = request
        j, s = self._ids()
        span = Span(len(self.spans), name,
                    parent.id if parent else None, self._request,
                    time.perf_counter(), (j, j), (s, s), -self._py4j,
                    attrs=attrs)
        self.spans.append(span)
        if parent is not None:
            parent.children.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        j, s = self._ids()
        span.jobs = (span.jobs[0], j)
        span.stages = (span.stages[0], s)
        span.py4j += self._py4j
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed inside {popped.name}")

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        span = self.open(name, request=request)
        try:
            yield span
        finally:
            self.close(span)

    def wrap(self, name: str, fn: Callable,
             on_result: Callable[[Span, object], None] | None = None
             ) -> Callable:
        """``fn`` with every call recorded as a span called ``name``;
        ``on_result(span, result)`` may add attributes."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as span:
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(span, out)
            return out

        return traced


_MISSING = object()


class Patches:
    """Rebinds every global that refers to one function object, across
    a set of modules, and restores them all on ``undo``."""

    def __init__(self):
        self._undo: list[tuple[dict, str, object]] = []

    def rebind(self, original, replacement, namespaces) -> int:
        n = 0
        for ns in namespaces:
            for key, val in list(ns.items()):
                if val is original:
                    self._undo.append((ns, key, val))
                    ns[key] = replacement
                    n += 1
        return n

    def setattr(self, owner, name: str, replacement) -> None:
        """Set ``owner.name``; an attribute ``owner`` only inherited is
        deleted again on ``undo``."""
        self._undo.append((owner, name, vars(owner).get(name, _MISSING)))
        setattr(owner, name, replacement)

    def undo(self) -> None:
        while self._undo:
            ns, key, val = self._undo.pop()
            if isinstance(ns, dict):
                ns[key] = val
            elif val is _MISSING:
                delattr(ns, key)
            else:
                setattr(ns, key, val)


def engine_namespaces() -> list[dict]:
    """Globals of every loaded engine module plus the query registry."""
    return [vars(m) for name, m in list(sys.modules.items())
            if m is not None and (name == "__spark_entry__"
                                  or name.startswith("pydiverse_transform_spark"))]
