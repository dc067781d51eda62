"""Benchmark-side spans and their self times.

A span is recorded around each call into a layer of the program: name,
start, end and the span that encloses it. Spans live in memory until the run
ends. A span's self time is its duration minus the part of its interval that
its child spans cover, so the self times of one operation's span tree add up
to the operation's wall time.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Iterator, Optional


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; ``on_enter(span_id)`` and
    ``on_exit(parent_id)`` let the caller tag engine work with the innermost
    open span (the benchmark sets the Spark job group there)."""

    def __init__(
        self,
        enabled: bool,
        on_enter: Callable[[int], None] | None = None,
        on_exit: Callable[[Optional[int]], None] | None = None,
    ):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._on_enter = on_enter
        self._on_exit = on_exit

    @contextmanager
    def span(self, name: str) -> Iterator[Optional[Span]]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, 0.0)
        self.spans.append(sp)
        self._stack.append(sp.id)
        if self._on_enter:
            self._on_enter(sp.id)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(parent)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
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


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {s.id: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent].append(s)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals,
    each child clipped to the parent's interval."""
    kids = children(spans)
    out = {}
    for s in spans:
        covered = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids[s.id]
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.dur - union_length(covered)
    return out


def subtree(spans: list[Span], root: int) -> list[Span]:
    kids = children(spans)
    out, stack = [], [root]
    while stack:
        sid = stack.pop()
        out.append(spans[sid])
        stack.extend(c.id for c in kids[sid])
    return out
