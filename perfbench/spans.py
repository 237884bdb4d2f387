"""Spans, layer wrappers and self-time arithmetic for the traced run.

A span is one call into a layer: name, start, end, parent, thread.
With tracing on, every span also runs under its own Spark job group
(set on entry, restored on exit, in the calling thread — job groups are
thread-local), so the event log attributes each Spark job to the
innermost layer call that launched it.  A function that returns a lazy
DataFrame gets a span covering plan building only; the jobs that later
execute it land in the enclosing span's group.

Layer functions are wrapped where their CALLER looks them up (e.g.
``pipeline.jobs.crawl``, not ``pipeline.crawl.crawl``): modules bind
imported names at import time, so only the caller's namespace sees the
wrapper.  Wrappers are removed again by ``Tracer.restore``.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from perfbench.host import cpu_jiffies, steal_share, unstolen

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Op:
    """One timed operation of a workload (the closed-loop client's
    request): ``kind`` is "op" (primary) or "secondary"."""

    kind: str
    name: str
    start: float
    end: float = 0.0
    ok: bool = True
    span: int | None = None
    #: share of the CPU time wanted during the op that the host stole
    steal: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def unstolen_s(self) -> float:
        return unstolen(self.duration, self.steal)


class Tracer:
    """Records ops always and layer spans only when ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._originals: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _current(self) -> Span | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # a pool thread's first span hangs under the span that submitted
        # its task (see propagate_to_pools), else under whatever the main
        # thread is inside
        inherited = getattr(self._local, "parent", None)
        if inherited is not None:
            return inherited
        return self._main_stack[-1] if self._main_stack else None

    def begin(self, name: str, **attrs) -> tuple[Span, object]:
        stack = self._stack()
        parent = self._current()
        span = Span(
            next(self._ids), name, parent.id if parent else None,
            threading.get_ident(), time.time(), attrs=attrs,
        )
        with self._lock:
            self.spans.append(span)
        stack.append(span)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(GROUP_PROP)
            self.sc.setLocalProperty(GROUP_PROP, span.group)
        return span, prev

    def finish(self, span: Span, prev) -> None:
        span.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_PROP, prev)

    def group(self, name: str):
        """Run untimed benchmark work (set-up, checks) under a named job
        group so the traced run leaves no Spark job ungrouped."""
        return _GroupCtx(self, name)

    # -- ops -----------------------------------------------------------

    def op(self, kind: str, name: str) -> "_OpCtx":
        return _OpCtx(self, kind, name)

    # -- wrappers ------------------------------------------------------

    def wrap(self, module, attr: str, name: str, on_exit=None) -> None:
        """Replace ``module.attr`` by a span-recording wrapper.
        ``on_exit(span, args, kwargs, result)`` may add attrs."""
        if not self.enabled:
            return
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span, prev = tracer.begin(name)
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                tracer.finish(span, prev)
                if on_exit is not None:
                    on_exit(span, args, kwargs, result)

        self._originals.append((module, attr, orig))
        setattr(module, attr, traced)

    def propagate_to_pools(self) -> None:
        """Make thread-pool tasks run under the job group (and span) of
        the thread that submitted them.  Spark job groups are
        thread-local and plain ``threading`` threads do not inherit
        them, so without this the jobs of a pool inside the package
        (the drain's workers, an index build's parallel writes) run
        without a group."""
        if not self.enabled:
            return
        from concurrent.futures import ThreadPoolExecutor

        orig = ThreadPoolExecutor.submit
        tracer = self

        @functools.wraps(orig)
        def submit(pool, fn, /, *args, **kwargs):
            sc = tracer.sc
            group = sc.getLocalProperty(GROUP_PROP) if sc is not None else None
            parent = tracer._current()

            def run():
                prev_parent = getattr(tracer._local, "parent", None)
                tracer._local.parent = parent
                prev = None
                if sc is not None:
                    prev = sc.getLocalProperty(GROUP_PROP)
                    sc.setLocalProperty(GROUP_PROP, group)
                try:
                    return fn(*args, **kwargs)
                finally:
                    if sc is not None:
                        sc.setLocalProperty(GROUP_PROP, prev)
                    tracer._local.parent = prev_parent

            return orig(pool, run)

        self._originals.append((ThreadPoolExecutor, "submit", orig))
        ThreadPoolExecutor.submit = submit

    def restore(self) -> None:
        for module, attr, orig in reversed(self._originals):
            setattr(module, attr, orig)
        self._originals.clear()

    # -- queries over the record --------------------------------------

    def op_of_span(self) -> dict[int, int]:
        """span id -> id of its root (op) span."""
        by_id = {s.id: s for s in self.spans}
        root: dict[int, int] = {}
        for s in self.spans:
            cur = s
            while cur.parent is not None and cur.parent in by_id:
                cur = by_id[cur.parent]
            root[s.id] = cur.id
        return root


class _GroupCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        sc = self.tracer.sc
        if self.tracer.enabled and sc is not None:
            self.prev = sc.getLocalProperty(GROUP_PROP)
            sc.setLocalProperty(GROUP_PROP, f"pb-{self.name}")
        return self

    def __exit__(self, *exc):
        sc = self.tracer.sc
        if self.tracer.enabled and sc is not None:
            sc.setLocalProperty(GROUP_PROP, self.prev)
        return False


class _OpCtx:
    """Times one op; with tracing on it is also the root span."""

    def __init__(self, tracer: Tracer, kind: str, name: str):
        self.tracer = tracer
        self.rec = Op(kind, name, 0.0)
        self.span = None

    def __enter__(self) -> Op:
        if self.tracer.enabled:
            self.span, self.prev = self.tracer.begin(f"op.{self.rec.name}")
            self.rec.span = self.span.id
        self.jiffies = cpu_jiffies()
        self.rec.start = time.perf_counter()
        return self.rec

    def __exit__(self, exc_type, exc, tb):
        self.rec.end = time.perf_counter()
        self.rec.steal = steal_share(self.jiffies, cpu_jiffies())
        if self.span is not None:
            self.tracer.finish(self.span, self.prev)
        if exc_type is not None:
            self.rec.ok = False
            traceback.print_exception(exc_type, exc, tb, file=sys.stderr)
        self.tracer.ops.append(self.rec)
        # an op that raised counts as failed; the run goes on
        return exc_type is not None and issubclass(exc_type, Exception)


# ---------------------------------------------------------------------------
# interval arithmetic
# ---------------------------------------------------------------------------


def union(intervals) -> list[tuple[float, float]]:
    """Merge intervals into a sorted list of disjoint ones."""
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def covered(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def self_intervals(span: Span, children) -> list[tuple[float, float]]:
    """The parts of ``span`` that no child span covers.  Children may
    come from any thread and overlap each other; the covered part is
    the union of their (clipped) intervals."""
    cov = union(clip([(c.start, c.end) for c in children], span.start, span.end))
    out, cur = [], span.start
    for a, b in cov:
        if a > cur:
            out.append((cur, a))
        cur = max(cur, b)
    if cur < span.end:
        out.append((cur, span.end))
    return out


def layer_self_time(spans: list[Span], names) -> float:
    """Self time of a layer: the self intervals of its spans, merged per
    thread (concurrent calls on one thread cannot overlap, but nested
    calls of the same layer can) and summed over threads — four drain
    threads busy for one second each count four seconds."""
    names = set(names)
    kids: dict[int | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    per_thread: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.name in names:
            per_thread.setdefault(s.thread, []).extend(
                self_intervals(s, kids.get(s.id, []))
            )
    return sum(covered(iv) for iv in per_thread.values())
