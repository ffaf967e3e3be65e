"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's side, around calls into the
program's public functions: name, start, end and the parent span that was
open when the span started. Each thread keeps its own stack of open spans;
a span started in a thread with none open (a leg thread of
``run_extraction_concurrent``) takes its parent from the thread that made
the tracer. ``self_times`` gives each span name its time minus the part of
that interval its child spans cover.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._main = threading.get_ident()
        self._open: dict[int, list[int]] = {}
        self._lock = threading.Lock()

    def start(self, name: str) -> Span:
        with self._lock:
            stack = self._open.setdefault(threading.get_ident(), [])
            outer = stack or self._open.get(self._main) or [None]
            span = Span(len(self.spans), name, outer[-1], time.perf_counter())
            self.spans.append(span)
            stack.append(span.id)
        return span

    def finish(self, span: Span) -> float:
        span.end = time.perf_counter()
        with self._lock:
            self._open[threading.get_ident()].remove(span.id)
        return span.end - span.start

    @contextmanager
    def span(self, name: str):
        s = self.start(name)
        try:
            yield s
        finally:
            self.finish(s)

    def wrap(self, name: str, fn):
        """``fn`` with each call recorded as a span called ``name``."""

        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Sum, per span name, of each span's duration minus the union of its
    children's intervals (clipped to the span)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s.end is None:
            continue
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if c.end is not None and c.end > s.start and c.start < s.end
        ]
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - _covered(kids)
    return out
