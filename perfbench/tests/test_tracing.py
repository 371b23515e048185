import types

import pytest
from py4j import protocol

from tracing import Patches, Span, Tracer, covered, self_ids, self_py4j, self_time


def span(name, start, end, children=(), jobs=(0, 0), stages=(0, 0), py4j=0):
    s = Span(0, name, None, None, start, jobs, stages, py4j, end)
    s.children = list(children)
    return s


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5)]) == 4
    assert covered(0, 10, [(1, 2), (4, 6)]) == 3
    assert covered(2, 4, [(0, 3), (3.5, 9)]) == 1.5
    assert covered(0, 10, [(5, 5), (7, 6)]) == 0


def test_self_time_subtracts_children():
    a, b = span("dsl.verb", 1, 3), span("sources.read", 4, 5)
    root = span("request.q", 0, 10, [a, b])
    assert self_time(root) == pytest.approx(7)
    assert self_time(a) == pytest.approx(2)


def test_self_time_of_nested_grandchildren_counted_once():
    grandchild = span("exec.action", 2, 4)
    child = span("targets.export_to", 1, 5, [grandchild])
    root = span("request.q", 0, 6, [child])
    assert self_time(root) == pytest.approx(2)
    assert self_time(child) == pytest.approx(2)
    assert self_time(grandchild) == pytest.approx(2)


def test_self_ids_and_py4j_exclude_children():
    child = span("dsl.verb", 0, 1, jobs=(3, 5), stages=(7, 9), py4j=4)
    parent = span("extras.dedup.x", 0, 2, [child], jobs=(2, 6),
                  stages=(6, 10), py4j=10)
    assert self_ids(parent, "jobs") == [2, 5]
    assert self_ids(parent, "stages") == [6, 9]
    assert self_py4j(parent) == 6


def test_tracer_counts_only_calls_and_constructors():
    ids = iter(range(0, 100, 1))

    def next_ids():
        n = next(ids)
        tracer.count_command(protocol.CALL_COMMAND_NAME + "x")  # own reads
        return n, n

    tracer = Tracer(next_ids)
    root = tracer.open("request.q", request=7)
    tracer.count_command(protocol.CALL_COMMAND_NAME + "o1\nm\n")
    child = tracer.open("dsl.verb")
    tracer.count_command(protocol.CONSTRUCTOR_COMMAND_NAME + "java.x\n")
    tracer.count_command(protocol.MEMORY_COMMAND_NAME + "d\no1\n")
    tracer.close(child)
    tracer.close(root)
    assert root.py4j == 2 and child.py4j == 1
    assert self_py4j(root) == 1
    assert child.parent == root.id and child.request == 7
    assert root.jobs == (0, 3) and child.jobs == (1, 2)
    assert root.children == [child]


def test_tracer_rejects_out_of_order_close():
    tracer = Tracer(lambda: (0, 0))
    outer = tracer.open("request.q")
    tracer.open("dsl.verb")
    with pytest.raises(RuntimeError):
        tracer.close(outer)


def test_wrap_records_span_and_result_attrs():
    tracer = Tracer(lambda: (0, 0))
    traced = tracer.wrap("targets.export_to", lambda x: [x] * 3,
                         on_result=lambda s, out: s.attrs.update(rows=len(out)))
    assert traced(1) == [1, 1, 1]
    (s,) = tracer.spans
    assert s.name == "targets.export_to" and s.attrs == {"rows": 3}
    assert s.layer == "targets"


def test_patches_rebind_and_undo():
    def f():
        return 1

    def g():
        return 2

    ns1, ns2 = {"f": f, "alias": f, "other": g}, {"f": f}
    p = Patches()
    assert p.rebind(f, g, [ns1, ns2]) == 3
    assert ns1["alias"] is g and ns2["f"] is g and ns1["other"] is g
    obj = types.SimpleNamespace()
    p.setattr(obj, "added", 5)
    p.undo()
    assert ns1 == {"f": f, "alias": f, "other": g} and ns2 == {"f": f}
    assert not hasattr(obj, "added")
