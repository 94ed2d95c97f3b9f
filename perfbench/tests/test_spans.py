"""Self-time arithmetic and span bookkeeping of perfbench/spans.py.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import spans  # noqa: E402
from spans import Span, Tracer, descendants, self_times, span_id  # noqa: E402


def _span(id, parent, start, end, thread="main"):
    return Span(id=id, name=f"s{id}", layer=f"l{id}", thread=thread, parent=parent,
                start=start, end=end)


def test_sequential_children_take_their_own_time():
    root = _span(1, None, 0.0, 10.0)
    tree = [root, _span(2, 1, 1.0, 4.0), _span(3, 1, 5.0, 6.0), _span(4, 2, 2.0, 3.0)]
    got = self_times(tree, root)
    assert got == pytest.approx({1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0})
    assert sum(got.values()) == pytest.approx(10.0)


def test_concurrent_children_split_the_instants_they_share():
    # two pool threads under one parent: [1, 5) and [3, 7) overlap on [3, 5)
    root = _span(1, None, 0.0, 8.0)
    tree = [root, _span(2, 1, 1.0, 5.0, "t1"), _span(3, 1, 3.0, 7.0, "t2")]
    got = self_times(tree, root)
    assert got == pytest.approx({1: 2.0, 2: 3.0, 3: 3.0})
    assert sum(got.values()) == pytest.approx(8.0)


def test_children_are_clipped_to_the_root_and_other_roots_ignored():
    root = _span(1, None, 0.0, 4.0)
    other_root = _span(9, None, 0.0, 4.0)
    tree = [root, other_root, _span(2, 1, 3.0, 6.0), _span(10, 9, 0.0, 4.0)]
    got = self_times(tree, root)
    assert got == pytest.approx({1: 3.0, 2: 1.0})


def test_descendants_and_span_ids():
    tree = [_span(1, None, 0, 1), _span(2, 1, 0, 1), _span(3, 2, 0, 1), _span(4, None, 0, 1)]
    assert {s.id for s in descendants(tree, tree[0])} == {1, 2, 3}
    assert span_id("perfbench:12") == 12
    assert span_id("some other description") is None
    assert span_id(None) is None


class _FakeContext:
    """Stands in for SparkContext: records local properties per thread."""

    def __init__(self):
        self.props: dict[str, list] = {}

    def setLocalProperty(self, key, value):
        self.props.setdefault(threading.current_thread().name, []).append(value)


def test_patched_functions_nest_and_pool_tasks_inherit_the_span(monkeypatch):
    fake = _FakeContext()
    monkeypatch.setattr(spans, "_spark_context", lambda: fake)

    class Lib:
        @staticmethod
        def inner(x):
            return x + 1

        @staticmethod
        def outer(xs):
            with spans.concurrent.futures.ThreadPoolExecutor(max_workers=2) as pool:
                return list(pool.map(Lib.inner, xs))

    tracer = Tracer()
    tracer.patch(Lib, "inner", "inner_layer")
    tracer.patch(Lib, "outer", "outer_layer")
    tracer.patch_thread_pools()
    try:
        with tracer.span("call", "job") as root:
            assert Lib.outer([1, 2, 3]) == [2, 3, 4]
    finally:
        tracer.restore()
    assert spans.concurrent.futures.ThreadPoolExecutor is ThreadPoolExecutor
    assert Lib.inner(1) == 2 and not hasattr(Lib.inner, "__wrapped__")

    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    (outer,) = by_name["outer"]
    assert outer.parent == root.id
    assert len(by_name["inner"]) == 3
    assert all(s.parent == outer.id for s in by_name["inner"])
    # pool threads carried the outer span, then their own, then nothing
    pool_values = [v for t, vals in fake.props.items() if t != "MainThread" for v in vals]
    assert f"perfbench:{outer.id}" in pool_values
    assert pool_values[-1] is None
    assert fake.props["MainThread"][-1] is None
    assert sum(self_times(tracer.spans, root).values()) == pytest.approx(root.end - root.start)


def test_calls_from_other_modules_pass_through(monkeypatch):
    monkeypatch.setattr(spans, "_spark_context", lambda: None)

    class Writer:
        @staticmethod
        def parquet(path):
            return path

    tracer = Tracer()
    tracer.patch_calls_from(Writer, "parquet", "not_this_module", "stage0", "staging_write")
    tracer.patch_calls_from(Writer, "parquet", __name__, "stage0", "staging_write")
    try:
        assert Writer.parquet("p") == "p"
    finally:
        tracer.restore()
    assert [s.name for s in tracer.spans] == ["staging_write"]
