"""In-memory spans for the traced run.

A span has a name, a layer, start and end (``time.perf_counter``
seconds), the id of the span open when it started, and the run's trace
id. Spans are recorded only when the tracer is enabled; the untraced
run times the same calls with plain clocks. ``add`` attaches spans
recorded elsewhere (Spark stages from the event log) under a parent.

A span's self time is its duration minus the part of that interval its
children cover, so children plus self time account for every parent
exactly.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, layer, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None,
                 trace_id=self.trace_id, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs) -> Span:
        s = Span(len(self.spans), name, layer, start, end, parent,
                 self.trace_id, attrs)
        self.spans.append(s)
        return s

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        kids = self.children()
        return {s.id: s.duration - covered(s, kids.get(s.id, ())) for s in self.spans}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id,
                       "spans": [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans]},
                      f)


def covered(parent: Span, kids) -> float:
    """Length of the union of the children's intervals, clipped to the
    parent's interval (parallel stages overlap; count each instant once)."""
    ivs = sorted((max(k.start, parent.start), min(k.end, parent.end)) for k in kids)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
