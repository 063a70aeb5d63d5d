"""In-memory spans for the traced run, and the interval arithmetic behind
self times and the driver gap.

A span covers one call the benchmark makes into the package: a pass, a
catalog entry, the entry's build (``fn(spark, sf)``) and exec (the
``noop`` write), or a ``pipelines`` call. Spans nest by ``parent`` and
share the run id. Counters read from Spark's status stores are attached
after the call returns (see ``sparkstats``); the spans are written out
once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (``(start, end)`` pairs),
    each clipped to ``[lo, hi]`` when given; overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    id: int
    name: str
    kind: str  # pass | entry | build | exec | pipeline
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    # [first, next) job and stage ids Spark assigned while the span was open
    jobs: tuple[int, int] = (0, 0)
    stages: tuple[int, int] = (0, 0)
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children) -> float:
    """The span's duration minus the part of it its children cover."""
    return span.duration - union_length(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Tracer:
    """Records spans in memory. ``mark`` returns the (next job id, next
    stage id) pair at a boundary, so each span knows which jobs and
    stages appeared while it was open."""

    def __init__(self, run_id: str, mark):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._mark = mark

    @contextmanager
    def span(self, name: str, kind: str, parent: Span | None = None):
        job0, stage0 = self._mark()
        s = Span(
            id=len(self.spans), name=name, kind=kind,
            parent=parent.id if parent is not None else None,
            run=self.run_id, start=time.time(),
        )
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            job1, stage1 = self._mark()
            s.jobs = (job0, job1)
            s.stages = (stage0, stage1)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_times(self) -> dict[str, float]:
        """Self time summed per span kind."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.kind] = out.get(s.kind, 0.0) + self_time(s, self.children(s))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)
