"""Spans around the program's public functions, recorded from outside.

A :class:`Tracer` replaces a function with a wrapper at the place the
caller looks the name up (a module attribute, or a method on a class)
and records one :class:`Span` per call: name, layer, thread, parent,
start and end. While a span is open its thread carries the Spark local
property ``spark.job.description = perfbench:<span id>``, so every
Spark job the call submits names the span in the event log. Worker
threads of ``concurrent.futures.ThreadPoolExecutor`` pools created while
tracing inherit the submitting span, because the JVM side does not pass
local properties to the threads Python starts.

:func:`self_times` turns the spans of one call into self time per span:
each instant of the call goes to the spans open at that instant that
have no open child, split evenly when several are open at once on
different threads. For sequential code this is a span's duration minus
the part its children cover; with concurrent children the self times
still add up to the call's wall time.
"""

from __future__ import annotations

import concurrent.futures
import contextvars
import functools
import itertools
import sys
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

DESCRIPTION_KEY = "spark.job.description"
DESCRIPTION_PREFIX = "perfbench:"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    thread: str
    parent: int | None
    start: float
    end: float | None = None


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """Records spans in memory; the caller reads ``spans`` afterwards."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._current: contextvars.ContextVar[Span | None] = contextvars.ContextVar(
            "perfbench_span", default=None
        )
        self._patches: list[tuple[object, str, object]] = []

    def _describe(self, span: Span | None) -> None:
        sc = _spark_context()
        if sc is not None:
            sc.setLocalProperty(
                DESCRIPTION_KEY, None if span is None else f"{DESCRIPTION_PREFIX}{span.id}"
            )

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[Span]:
        parent = self._current.get()
        with self._lock:
            s = Span(
                id=next(self._ids),
                name=name,
                layer=layer,
                thread=threading.current_thread().name,
                parent=None if parent is None else parent.id,
                start=time.time(),
            )
            self.spans.append(s)
        token = self._current.set(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._current.reset(token)
            self._describe(parent)

    def wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner: object, attr: str, layer: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` by a traced wrapper until :meth:`restore`."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name or attr, layer))

    def patch_calls_from(
        self, owner: object, attr: str, caller: str, layer: str, name: str
    ) -> None:
        """Like :meth:`patch`, but only calls made directly from code in
        module ``caller`` open a span; other calls pass straight through."""
        original = getattr(owner, attr)
        traced = self.wrap(original, name, layer)

        @functools.wraps(original)
        def dispatch(*args, **kwargs):
            if sys._getframe(1).f_globals.get("__name__") == caller:
                return traced(*args, **kwargs)
            return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, dispatch)

    def patch_thread_pools(self) -> None:
        """Make pools created from now on run each task in the context
        of the span that submitted it."""
        tracer = self
        base = concurrent.futures.ThreadPoolExecutor

        class ContextThreadPoolExecutor(base):
            def submit(self, fn, /, *args, **kwargs):
                ctx = contextvars.copy_context()
                span = tracer._current.get()

                def run():
                    tracer._describe(span)
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        tracer._describe(None)

                return super().submit(ctx.run, run)

        self._patches.append((concurrent.futures, "ThreadPoolExecutor", base))
        concurrent.futures.ThreadPoolExecutor = ContextThreadPoolExecutor

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


def span_id(description: str | None) -> int | None:
    """The span id a Spark job description names, if any."""
    if description and description.startswith(DESCRIPTION_PREFIX):
        return int(description[len(DESCRIPTION_PREFIX):])
    return None


def descendants(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.id, ()))
    return out


def self_times(spans: list[Span], root: Span) -> dict[int, float]:
    """Self time per span id under ``root`` (see the module docstring).
    Children are clipped to the root's interval; the values sum to the
    root's duration."""
    tree = descendants(spans, root)
    lo, hi = root.start, root.end
    edges = sorted({lo, hi} | {min(max(t, lo), hi) for s in tree for t in (s.start, s.end)})
    out = {s.id: 0.0 for s in tree}
    for a, b in zip(edges, edges[1:]):
        open_ = [s for s in tree if s.start <= a and s.end >= b]
        leaves = [s for s in open_ if not any(o.parent == s.id for o in open_)]
        for s in leaves:
            out[s.id] += (b - a) / len(leaves)
    return out
