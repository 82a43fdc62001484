"""In-memory spans for the traced run, written out when the run ends.

A span is one layer boundary crossed by one unit of work: a name, wall-clock
start and end (seconds since the epoch, so they line up with the streaming
progress timestamps), and the name of its parent span within the same trace.
Spans of one micro-batch (or one dedup pass) share a trace id.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class Span:
    trace: str
    name: str
    start: float
    end: float
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, trace: str, name: str, start: float, end: float, parent: str | None = None) -> None:
        self.spans.append(Span(trace, name, start, end, parent))

    def by_trace(self) -> dict[str, dict[str, Span]]:
        out: dict[str, dict[str, Span]] = defaultdict(dict)
        for s in self.spans:
            out[s.trace][s.name] = s
        return out

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per trace, each span's duration minus the part of it that its
        children cover (children clipped to the parent, overlaps merged)."""
        result = {}
        for trace, spans in self.by_trace().items():
            kids: dict[str, list[Span]] = defaultdict(list)
            for s in spans.values():
                if s.parent is not None:
                    kids[s.parent].append(s)
            result[trace] = {
                name: s.seconds - _covered(s, kids[name]) for name, s in spans.items()
            }
        return result

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _covered(parent: Span, children: list[Span]) -> float:
    total, cursor = 0.0, parent.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, cursor), min(c.end, parent.end)
        if hi > lo:
            total += hi - lo
            cursor = hi
    return total
