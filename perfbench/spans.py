"""In-memory spans for the traced run.

A span has a name, start and end (``perf_counter`` seconds), the index
of its parent span and a run id.  Spans are opened and closed from the
benchmark's own code around calls into the program's public functions;
nothing is written until the run ends.  A span's self time is its
duration minus the part of its interval that its direct children cover.
"""

from __future__ import annotations

import contextlib
import time
from typing import Dict, List, Optional


class Span:
    __slots__ = ("name", "start", "end", "parent", "run_id", "attrs")

    def __init__(self, name: str, start: float, parent: Optional[int],
                 run_id: str):
        self.name = name
        self.start = start
        self.end: Optional[float] = None
        self.parent = parent
        self.run_id = run_id
        self.attrs: Dict = {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> Dict:
        return {"name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "run_id": self.run_id,
                **self.attrs}


class Tracer:
    """Collects spans of one run; ``span()`` nests by call order."""

    def __init__(self, run_id: str, clock=time.perf_counter):
        self.run_id = run_id
        self.clock = clock
        self.spans: List[Span] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.clock(), parent, self.run_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()

    def children(self, index: int) -> List[Span]:
        return [s for s in self.spans if s.parent == index]

    def self_time(self, index: int) -> float:
        return self_time(self.spans[index],
                         self.children(index))

    def as_dicts(self) -> List[Dict]:
        return [s.as_dict() for s in self.spans]


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: Span, children: List[Span]) -> float:
    """``span``'s duration minus the part of it its children cover
    (children clipped to the parent's interval; overlaps counted once)."""
    clipped = [(max(c.start, span.start), min(c.end, span.end))
               for c in children]
    return span.duration - covered([iv for iv in clipped if iv[1] > iv[0]])


class SelfTimer:
    """Per-name self time and call counts for functions wrapped with
    ``wrap``: cheap enough for per-call use inside the kernel, where a
    ``Span`` object per call would cost more than the calls it times."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.self_s: Dict[str, float] = {}
        self.calls: Dict[str, int] = {}
        self._stack: List[List] = []    # [name, start, time spent in children]

    def enter(self, name: str):
        self._stack.append([name, self.clock(), 0.0])

    def exit(self):
        name, start, in_children = self._stack.pop()
        elapsed = self.clock() - start
        self.self_s[name] = self.self_s.get(name, 0.0) + elapsed - in_children
        self.calls[name] = self.calls.get(name, 0) + 1
        if self._stack:
            self._stack[-1][2] += elapsed

    def wrap(self, fn, name: str):
        def wrapper(*args, **kwargs):
            self.enter(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.exit()
        wrapper.__wrapped__ = fn
        return wrapper
