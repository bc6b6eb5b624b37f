"""In-memory spans for the traced run.

A span records its name, start, end, parent and the id of the operation
it belongs to; attributes carry the counts measured at the same
boundary. Spans stay in memory until ``dump`` writes them out at the end
of the run. With tracing off, ``Tracer.span`` returns a no-op context, so
the untraced run pays one attribute lookup per boundary.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class _NoSpan:
    attrs: dict = {}

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class Tracer:
    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id = 0

    def new_op(self) -> int:
        """Start a new operation: later spans share its id."""
        self.op_id += 1
        return self.op_id

    def span(self, name: str, **attrs):
        if not self.enabled:
            return _NO_SPAN
        return self._span(name, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, self.op_id, parent, self.clock(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "attrs": s.attrs,
                }) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> its duration minus the part of it that its direct
    children cover (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(lo, s.start), min(hi, s.end))
            for lo, hi in kids.get(s.sid, ())
            if hi > s.start and lo < s.end
        ]
        out[s.sid] = s.dur - _covered(clipped)
    return out


def within(spans: list[Span], root_name: str) -> list[Span]:
    """The spans that have an ancestor (or are one) named ``root_name``."""
    by_id = {s.sid: s for s in spans}
    keep = []
    for s in spans:
        cur = s
        while cur is not None and cur.name != root_name:
            cur = by_id.get(cur.parent) if cur.parent is not None else None
        if cur is not None:
            keep.append(s)
    return keep


def totals_by_name(spans: list[Span]) -> dict[str, dict[str, float]]:
    """name -> {"n", "total_s", "self_s"} over every span of that name."""
    st = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"n": 0, "total_s": 0.0, "self_s": 0.0}
    )
    for s in spans:
        d = out[s.name]
        d["n"] += 1
        d["total_s"] += s.dur
        d["self_s"] += st[s.sid]
    return dict(out)
