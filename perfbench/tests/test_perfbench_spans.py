"""Self-time arithmetic and job-group propagation of the tracer."""

import threading
import types
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench.spans import (
    GROUP_PROP,
    Span,
    Tracer,
    covered,
    layer_self_time,
    self_intervals,
    union,
)


def span(i, name, start, end, parent=None, thread=1):
    return Span(i, name, parent, thread, start, end)


def test_union_merges_overlaps_and_drops_empty():
    assert union([(5, 7), (0, 2), (1, 3), (7, 8), (9, 9)]) == [(0, 3), (5, 8)]
    assert covered([(0, 2), (1, 3), (10, 11)]) == 4


def test_self_time_with_overlapping_children_from_several_threads():
    parent = span(1, "jobs.drain", 0.0, 10.0)
    kids = [
        span(2, "jobs.run_job", 1.0, 6.0, 1, thread=11),
        span(3, "jobs.run_job", 2.0, 7.0, 1, thread=12),  # overlaps 2
        span(4, "jobs.run_job", 8.5, 12.0, 1, thread=13),  # runs past parent
    ]
    assert self_intervals(parent, kids) == [(0.0, 1.0), (7.0, 8.5)]
    assert self_intervals(parent, []) == [(0.0, 10.0)]


def test_layer_self_time_merges_per_thread_and_sums_threads():
    spans = [
        span(1, "op", 0.0, 10.0),
        # two concurrent crawls on two threads, each with a child
        span(2, "crawl", 1.0, 5.0, 1, thread=21),
        span(3, "crawl.fetch", 2.0, 3.0, 2, thread=21),
        span(4, "crawl", 2.0, 6.0, 1, thread=22),
        span(5, "crawl.fetch", 4.0, 6.0, 4, thread=22),
        # a nested call of the same layer on thread 21 is not counted twice
        span(6, "crawl", 3.5, 4.5, 2, thread=21),
    ]
    # thread 21: [1,2) + [3,5) = 3 s; thread 22: [2,4) = 2 s
    assert layer_self_time(spans, {"crawl"}) == pytest.approx(5.0)
    assert layer_self_time(spans, {"crawl.fetch"}) == pytest.approx(3.0)


class FakeContext:
    """Thread-local properties, like a SparkContext's."""

    def __init__(self):
        self._local = threading.local()

    def getLocalProperty(self, key):
        return getattr(self._local, "props", {}).get(key)

    def setLocalProperty(self, key, value):
        props = self._local.__dict__.setdefault("props", {})
        if value is None:
            props.pop(key, None)
        else:
            props[key] = value


def test_wrap_sets_and_restores_group_and_records_parent():
    sc = FakeContext()
    tr = Tracer(True)
    tr.sc = sc
    mod = types.SimpleNamespace(work=lambda: sc.getLocalProperty(GROUP_PROP))
    tr.wrap(mod, "work", "layer.work")
    with tr.op("op", "q") as rec:
        seen = mod.work()
    assert sc.getLocalProperty(GROUP_PROP) is None
    op_span, inner = tr.spans
    assert seen == inner.group != op_span.group
    assert inner.parent == op_span.id == rec.span
    tr.restore()
    assert mod.work() is None


def test_pool_tasks_inherit_the_submitting_group_and_span():
    sc = FakeContext()
    tr = Tracer(True)
    tr.sc = sc
    mod = types.SimpleNamespace(work=lambda: sc.getLocalProperty(GROUP_PROP))
    tr.wrap(mod, "work", "layer.work")
    plain = lambda: sc.getLocalProperty(GROUP_PROP)  # noqa: E731
    submit = ThreadPoolExecutor.submit
    tr.propagate_to_pools()
    try:
        with tr.op("op", "q"):
            with ThreadPoolExecutor(max_workers=4) as pool:
                groups = list(pool.map(lambda _: plain(), range(8)))
                inner = pool.submit(mod.work).result()
        op_span = tr.spans[0]
        assert groups == [op_span.group] * 8
        nested = tr.spans[1]
        assert inner == nested.group and nested.parent == op_span.id
    finally:
        tr.restore()
    assert ThreadPoolExecutor.submit is submit


def test_failed_op_is_recorded_and_swallowed():
    tr = Tracer(False)
    with tr.op("op", "boom"):
        raise RuntimeError("injected")
    assert [(o.name, o.ok) for o in tr.ops] == [("boom", False)]
