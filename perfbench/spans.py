"""In-memory span tracer for the engine benchmark.

A span is one call from the benchmark into an engine layer. Spans are
kept in memory and written once when the run ends. Each span records
name, start, end, parent span and trace id (one trace per repetition).

Counters read from Spark's status store are attributed exclusively: at
every span boundary (enter or exit) the probe drains the jobs and stages
that finished since the previous boundary and charges them to the span
that was innermost during that interval. A span's own counters are
therefore already "self" counters; its self *time* is its duration minus
the part of it covered by child spans (:func:`self_seconds`).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    def as_dict(self) -> dict:
        return {"name": self.name, "span_id": self.span_id, "parent": self.parent,
                "trace_id": self.trace_id, "start": self.start, "end": self.end,
                "counters": self.counters}


class _NullSpan:
    """Stand-in yielded when tracing is off: counters are dropped."""

    def add(self, key: str, value: float) -> None:
        pass


def merge_intervals(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        kids = [(max(s, sp.start), min(e, sp.end))
                for s, e in children.get(sp.span_id, []) if min(e, sp.end) > max(s, sp.start)]
        out[sp.span_id] = (sp.end - sp.start) - merge_intervals(kids)
    return out


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op.

    ``probe`` (a :class:`status.StatusProbe` or None) supplies the Spark
    counters charged to spans; ``label`` (callable or None) receives the
    job description to set while a span is innermost.
    """

    def __init__(self, enabled: bool, probe=None, label=None, clock=time.perf_counter):
        self.enabled = enabled
        self.probe = probe
        self.label = label
        self.clock = clock
        self.spans: list[Span] = []
        self.trace_id = "-"
        self._stack: list[Span] = []

    def _charge_innermost(self) -> None:
        if self.probe is None:
            return
        drained = self.probe.drain()
        if self._stack:
            for k, v in drained.items():
                self._stack[-1].add(k, v)

    def _relabel(self) -> None:
        if self.label is not None:
            top = self._stack[-1] if self._stack else None
            self.label(f"{top.trace_id}/{top.name}#{top.span_id}" if top else None)

    @contextmanager
    def trace(self, trace_id: str):
        """Spans opened inside share ``trace_id``."""
        prev, self.trace_id = self.trace_id, trace_id
        try:
            yield
        finally:
            self.trace_id = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield _NullSpan()
            return
        self._charge_innermost()
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, len(self.spans), parent, self.trace_id, self.clock())
        self.spans.append(sp)
        self._stack.append(sp)
        self._relabel()
        try:
            yield sp
        finally:
            # stop the clock before draining so the probe's own cost is not
            # charged to this span's duration
            sp.end = self.clock()
            self._charge_innermost()
            self._stack.pop()
            self._relabel()
