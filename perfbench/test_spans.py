"""Self-time arithmetic, span nesting and the tail percentile rule."""

from __future__ import annotations

import pytest

from run import tail
from spans import Span, Tracer, self_time


def _span(start: float, end: float, id: int = 0, parent: int | None = None) -> Span:
    return Span(name="s", start=start, end=end, parent=parent, op=1, id=id)


def test_self_time_subtracts_union_of_children():
    parent = _span(0.0, 10.0)
    children = [_span(1.0, 3.0), _span(2.0, 5.0), _span(7.0, 8.0)]
    # [1, 5] and [7, 8] are covered: 5 of 10 seconds
    assert self_time(parent, children) == pytest.approx(5.0)


def test_self_time_clips_children_to_parent():
    parent = _span(0.0, 10.0)
    children = [_span(-2.0, 1.0), _span(9.0, 12.0), _span(20.0, 30.0)]
    assert self_time(parent, children) == pytest.approx(8.0)


def test_self_time_without_children_is_duration():
    assert self_time(_span(2.0, 4.5), []) == pytest.approx(2.5)


def test_tracer_nesting_and_self_time():
    tr = Tracer()
    op = tr.next_op()
    with tr.span("op") as root:
        with tr.span("registry.build") as build:
            with tr.span("sources.load_table") as load:
                pass
        with tr.span("spark.execute") as execute:
            pass
    assert (root.parent, build.parent, load.parent, execute.parent) == (
        None, root.id, build.id, root.id,
    )
    assert {s.op for s in tr.spans} == {op}
    assert tr.children(root) == [build, execute]
    want = root.duration - build.duration - execute.duration
    assert tr.self_time(root) == pytest.approx(want, abs=1e-9)
    assert [d["name"] for d in tr.dump()] == [
        "op", "registry.build", "sources.load_table", "spark.execute",
    ]


def test_tail_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 31)]
    value, pct = tail(xs)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(66.7)


def test_tail_of_few_samples_is_the_slowest():
    value, pct = tail([3.0, 1.0, 2.0])
    assert (value, pct) == (3.0, 100.0)
