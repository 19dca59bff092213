"""Spans: self time excludes children; tracing off records nothing."""

from __future__ import annotations

import time

from perfbench.tracing import Tracer


def test_self_time_excludes_child_spans():
    t = Tracer(True)
    with t.span("outer", "a"):
        time.sleep(0.02)
        with t.span("inner", "b"):
            time.sleep(0.03)
    self_ms = t.self_ms()
    assert 15 < self_ms["outer"] < 28
    assert 25 < self_ms["inner"] < 45
    inner = next(s for s in t.spans if s.layer == "inner")
    outer = next(s for s in t.spans if s.layer == "outer")
    assert inner.parent == outer.id


def test_disabled_tracer_records_nothing_and_wrap_is_identity():
    t = Tracer(False)
    with t.span("x", "y"):
        pass
    f = len
    assert t.wrap("x", "len", f) is f
    assert t.spans == [] and t.self_ms() == {}
