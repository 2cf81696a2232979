"""In-memory span recorder for the benchmark's own calls.

Spans form a tree: pass -> clear / probe / query -> construct / plan /
execute. A ``probe`` is the traced run reading executor storage.
They are kept in memory while the run lasts and written out once at
the end, in chrome://tracing format, together with the Spark jobs the
event log attributes to each query.

Times are ``time.perf_counter()`` seconds; ``epoch`` converts them to
the wall clock the Spark event log uses (epoch milliseconds).
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field
from typing import Iterator

# Share of a pass's wall time that may stay outside the clear, probe,
# construct, plan and execute spans before the span tree counts as
# incomplete.
COVERAGE_TOLERANCE = 0.05


@dataclass
class Span:
    kind: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.epoch = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, kind: str, name: str, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(kind, name, time.perf_counter(), parent=parent, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def index(self, span: Span) -> int:
        return next(i for i, s in enumerate(self.spans) if s is span)

    def to_epoch_ms(self, t: float) -> float:
        return (t + self.epoch) * 1000.0

    def from_epoch_ms(self, ms: float) -> float:
        return ms / 1000.0 - self.epoch


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(rec: Recorder, idx: int) -> float:
    """Span duration minus the part of it covered by its children."""
    sp = rec.spans[idx]
    kids = [(c.start, c.end) for c in rec.children(idx)]
    return sp.duration - union_length(clip(kids, sp.start, sp.end))


def self_times_by_kind(rec: Recorder, root: int) -> dict[str, float]:
    """Self time per span kind over the subtree under ``root``."""
    out: dict[str, float] = {}
    todo = [root]
    while todo:
        i = todo.pop()
        sp = rec.spans[i]
        out[sp.kind] = out.get(sp.kind, 0.0) + self_time(rec, i)
        todo.extend(j for j, s in enumerate(rec.spans) if s.parent == i)
    return out


def coverage(rec: Recorder, pass_idx: int) -> float:
    """Share of a pass's wall time covered by its clear and probe spans
    and its queries' construct, plan and execute spans."""
    p = rec.spans[pass_idx]
    covered = 0.0
    for i, s in enumerate(rec.spans):
        if s.parent != pass_idx:
            continue
        if s.kind in ("clear", "probe"):
            covered += s.duration
        elif s.kind == "query":
            covered += union_length([(c.start, c.end) for c in rec.children(i)])
    return covered / p.duration if p.duration > 0 else 0.0


def coverage_ok(share: float) -> bool:
    return abs(1.0 - share) <= COVERAGE_TOLERANCE


def to_chrome(rec: Recorder, jobs: list[dict]) -> list[dict]:
    """chrome://tracing "X" events: the span tree on track 0 and the
    Spark jobs (``{"name", "start_ms", "end_ms", "query"}``) on
    track 1."""
    events = [
        {
            "name": s.name,
            "cat": s.kind,
            "ph": "X",
            "ts": rec.to_epoch_ms(s.start) * 1000.0,
            "dur": s.duration * 1e6,
            "pid": 0,
            "tid": 0,
            "args": s.attrs,
        }
        for s in rec.spans
    ]
    for j in jobs:
        events.append(
            {
                "name": j["name"],
                "cat": "job",
                "ph": "X",
                "ts": j["start_ms"] * 1000.0,
                "dur": max(1.0, j["end_ms"] - j["start_ms"]) * 1000.0,
                "pid": 0,
                "tid": 1,
                "args": {"query": j["query"]},
            }
        )
    return events
