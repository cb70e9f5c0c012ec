"""In-memory spans for the traced run: name, start, end, parent and run id,
plus the status-store count deltas of each span. Written out once, when
the run ends."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """``with tracer.span("fetch") as s: ...`` records one span; nested
    spans get the enclosing one as parent. ``store`` (a StatusStore) adds
    the Spark count deltas of the span."""

    def __init__(self, run_id: str, store=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._store = store

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        mark = self._store.mark() if self._store is not None else None
        s = Span(len(self.spans), name, parent, self.run_id,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                s.counts = self._store.counts_since(mark)

    def write(self, path: str) -> None:
        selft = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([{**asdict(s), "duration": s.duration,
                        "self": selft[s.id]} for s in self.spans],
                      fh, indent=1)


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - _covered(children.get(s.id, []), s.start,
                                        s.end)
            for s in spans}
