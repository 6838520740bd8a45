"""Span self-time arithmetic and the wrap/unwrap contract."""

from __future__ import annotations

import types

import spans as sp


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_is_duration_minus_children():
    clock = FakeClock()
    tr = sp.Tracer(clock=clock)
    with tr.span("root"):
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 4.0
        clock.t = 5.0
        with tr.span("b"):
            clock.t = 6.0
            with tr.span("a"):
                clock.t = 8.0
            clock.t = 9.0
        clock.t = 10.0
    selfs = sp.self_times(tr.spans)
    assert selfs == {"root": 10.0 - 3.0 - 4.0, "b": 4.0 - 2.0, "a": 3.0 + 2.0}
    # self times of every span partition the root's wall exactly
    assert sum(selfs.values()) == tr.spans[0].duration
    assert sp.totals(tr.spans)["a"] == (5.0, 2)


def test_overlapping_children_count_once():
    # children started from other threads can overlap: self time
    # subtracts the union of their intervals, never more than the span
    spans = [
        sp.Span("root", None, 0.0, 10.0),
        sp.Span("x", 0, 1.0, 5.0),
        sp.Span("y", 0, 3.0, 7.0),
        sp.Span("z", 0, 9.0, 12.0),  # clipped to the parent's end
    ]
    assert sp.span_self_times(spans)[0] == 10.0 - 6.0 - 1.0


def test_layer_share_leaves_out_root_and_orchestrators():
    spans = [
        sp.Span("root", None, 0.0, 10.0),
        sp.Span("cli", 0, 0.5, 9.5),  # chains the layers below
        sp.Span("load", 1, 1.0, 5.0),
        sp.Span("annotate", 1, 6.0, 8.0),
    ]
    # root self 1, cli self 3, layers 4 + 2
    assert sp.layer_share(spans, spans[0], lambda n: n == "cli") == 0.6
    # the root's own self time is never a layer's
    assert sp.layer_share(spans, spans[0], lambda n: False) == 0.9
    empty = sp.Span("root", None, 1.0, 1.0)
    assert sp.layer_share([empty], empty, lambda n: False) == 0.0


def test_unclosed_child_is_ignored():
    spans = [sp.Span("root", None, 0.0, 2.0), sp.Span("open", 0, 1.0)]
    assert sp.span_self_times(spans) == [2.0, 0.0]


def test_wrap_records_and_unwrap_restores():
    mod = types.SimpleNamespace(fn=lambda x: x + 1)
    original = mod.fn
    clock = FakeClock()
    tr = sp.Tracer(clock=clock)
    tr.wrap(mod, "fn", "mod.fn")
    assert mod.fn(1) == 2
    assert [s.name for s in tr.spans] == ["mod.fn"]
    # the bookkeeping is timed on the real clock, apart from the spans'
    assert 0 < tr.overhead_s < 1
    tr.unwrap_all()
    assert mod.fn is original


def test_span_closes_when_the_call_raises():
    clock = FakeClock()
    tr = sp.Tracer(clock=clock)

    def boom():
        clock.t = 3.0
        raise ValueError("x")

    mod = types.SimpleNamespace(fn=boom)
    tr.wrap(mod, "fn", "mod.fn")
    try:
        mod.fn()
    except ValueError:
        pass
    assert tr.spans[0].end == 3.0
    assert tr._stack == []
