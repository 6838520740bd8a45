"""Spans for the traced run, opened from outside the package.

A ``Tracer`` wraps public functions of the package (``tracer.wrap(module,
"fn", "plans.load.load_run")``): each call opens a span that records its
start, end and parent span, and that sets a Spark job group naming the
span while it is open, so every job the call submits can be attributed
to the innermost open span from the event log. Spans live in memory
until the run ends.

``self_times(spans)`` turns spans into per-name self time: a span's
duration minus the part of its interval that its child spans cover.
``layer_share`` is the share of a root span that layer spans' self
times cover, when the root's and orchestrating spans' are left out.
``Tracer.overhead_s`` sums the time spent in the tracer's own
bookkeeping, hooks that share it included.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_self_times(spans: list[Span]) -> list[float]:
    """Self time of each span, in order: its duration minus the union of
    its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(children.get(i, []), s.start, s.end or s.start)
        for i, s in enumerate(spans)
    ]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per span name."""
    out: dict[str, float] = {}
    for s, t in zip(spans, span_self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + t
    return out


def layer_share(spans: list[Span], root: Span, catch_all) -> float:
    """Share of ``root``'s duration that the self times of its layer
    spans account for: every span but ``root`` and those whose name
    ``catch_all`` accepts (spans that only orchestrate others)."""
    if root.duration <= 0:
        return 0.0
    layer = sum(
        t for s, t in zip(spans, span_self_times(spans))
        if s is not root and not catch_all(s.name)
    )
    return layer / root.duration


def totals(spans: list[Span]) -> dict[str, tuple[float, int]]:
    """(summed duration, call count) per span name."""
    out: dict[str, tuple[float, int]] = {}
    for s in spans:
        d, n = out.get(s.name, (0.0, 0))
        out[s.name] = (d + s.duration, n + 1)
    return out


class Tracer:
    """Records spans and labels Spark jobs with the innermost span.

    ``sc`` is a SparkContext, or None to record spans without job
    groups (the unit tests)."""

    def __init__(self, sc=None, clock=time.time):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = sc
        self._clock = clock
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0

    def group_of(self, index: int) -> str:
        return f"span-{index}"

    def _set_group(self, index: int | None) -> None:
        if self._sc is None:
            return
        if index is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(self.group_of(index), self.spans[index].name)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, parent, self._clock()))
        index = len(self.spans) - 1
        self._stack.append(index)
        self._set_group(index)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield self.spans[index]
        finally:
            self.spans[index].end = self._clock()
            t0 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - t0

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)`` until
        ``unwrap_all``."""
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Open span ``name`` around each call of ``owner.attr``."""

        def make(original):
            @functools.wraps(original)
            def traced(*args, **kwargs):
                with self.span(name):
                    return original(*args, **kwargs)

            return traced

        self.patch(owner, attr, make)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)
