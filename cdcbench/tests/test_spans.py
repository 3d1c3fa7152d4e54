"""Span arithmetic of the benchmark's tracer (no Spark needed).

    python3 -m pytest cdcbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Span, Tracer, self_time, union_length  # noqa: E402


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 5), (1, 2), (3, 4)]) == 5.0
    assert union_length([(3, 4), (0, 1), (0.5, 1.5)]) == 2.5


def test_self_time_subtracts_children_once():
    spans = {
        0: Span(0, "parent", 0.0, 10.0, children=[1, 2, 3]),
        1: Span(1, "a", 1.0, 3.0, parent=0),
        2: Span(2, "b", 2.0, 4.0, parent=0),   # overlaps a: counted once
        3: Span(3, "c", 9.0, 12.0, parent=0),  # runs past the parent: clipped
    }
    assert self_time(spans[0], spans) == 10.0 - 3.0 - 1.0


def test_tracer_nesting_self_time_and_attribution():
    clock = FakeClock()
    t = Tracer(clock=clock)
    with t.span("run") as run:
        clock.now = 1.0
        t.tag = "trigger-0"
        with t.span("apply") as apply:
            clock.now = 2.0
            with t.span("append"):
                clock.now = 5.0
            clock.now = 6.0
        t.tag = None
        clock.now = 10.0
    assert (run.dur, apply.dur) == (10.0, 5.0)
    assert apply.parent == run.id and apply.tag == "trigger-0"
    assert t.self_time(run) == 5.0
    assert t.self_time(apply) == 2.0
    # a job submitted at t=3 belongs to the innermost open span
    assert t.innermost_at(3.0, run).name == "append"
    assert t.innermost_at(5.5, run).name == "apply"
    assert t.innermost_at(8.0, run).name == "run"
    assert t.innermost_at(11.0, run) is None


def test_wrappers_record_and_uninstall():
    class Box:
        def work(self, x):
            return x * 2

    clock = FakeClock()
    t = Tracer(clock=clock)
    t.install(Box, "work", "work", keep_result=lambda r: r)
    assert Box().work(21) == 42
    (sp,) = t.named("work")
    assert sp.result == 42 and sp.parent is None
    t.uninstall()
    Box().work(1)
    assert len(t.named("work")) == 1


def test_out_of_order_close_is_an_error():
    t = Tracer(clock=FakeClock())
    outer = t.open("outer")
    t.open("inner")
    try:
        t.close(outer)
    except RuntimeError:
        return
    raise AssertionError("closing the outer span first must raise")
