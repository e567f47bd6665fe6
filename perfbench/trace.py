"""Span tracer for the traced run.

Spans are recorded from outside the program: :meth:`Tracer.wrap`
replaces a public function where its caller looks it up (a class
attribute, or the name a module imported) with a wrapper that opens a
span around the call. Each wrapper also sets the span id as the Spark
job group *in the calling thread*, so jobs started from a worker
thread (the crawl engine's ``ThreadPoolExecutor``) are attributed to
the span that launched them; those threads do not inherit the driver
thread's group. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float                 # epoch seconds, comparable to Spark's
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Length covered by the union of ``(start, end)`` intervals,
    optionally clipped to ``[lo, hi]``."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.
    Overlapping children (concurrent appends) count once."""
    return span.duration - union_length(
        [(c.start, c.end) for c in children], span.start, span.end)


class Tracer:
    """Records spans; optionally tags Spark jobs with the span id."""

    def __init__(self, spark=None):
        self._sc = spark.sparkContext if spark is not None else None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self, stack: list[Span]) -> Span | None:
        # a worker thread's first span hangs under whatever the driver
        # thread has open (the call that submitted the work)
        if stack:
            return stack[-1]
        return self._main_stack[-1] if self._main_stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = self._parent(stack)
        with self._lock:
            sp = Span(f"s{next(self._ids)}", name,
                      parent.id if parent else None, time.time(),
                      attrs=attrs)
            self.spans.append(sp)
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty(GROUP_KEY)
            self._sc.setJobGroup(sp.id, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()
            if self._sc is not None:
                self._sc.setLocalProperty(GROUP_KEY, prev)

    def wrap(self, owner, attr: str, name: str | None = None,
             attrs_of=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``attrs_of(args)`` may derive span attributes from the call."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = attrs_of(args) if attrs_of else {}
            with self.span(label, **attrs):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- queries over the recorded tree ----------------------------------
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]
