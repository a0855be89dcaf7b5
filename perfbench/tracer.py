"""In-memory span tracer for the traced benchmark run.

A span is (id, parent id, name, start, end). Spans are kept in a list and
written out once, when the run ends. A span's self time is its duration minus
the part of its interval that its children cover; children may overlap (views
refresh on a thread pool), so the covered part is the union of their
intervals, clipped to the parent.

Spans are recorded around calls into the package's layers by wrapping the
module attributes those calls go through (``Tracer.wrap``); the package's own
code is not changed.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.duration - covered(children[s.id], s.start, s.end) for s in spans}


class Tracer:
    """Records spans; a thread's open spans form a stack that parents new
    ones. Work handed to another thread names its parent explicitly."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        t0 = self.clock()
        stack = self._stack()
        with self._lock:
            s = Span(next(self._ids), parent if parent is not None else self.current(), name, 0.0)
            self.spans.append(s)
        stack.append(s.id)
        s.start = self.clock()
        try:
            yield s
        finally:
            s.end = self.clock()
            stack.pop()
            with self._lock:  # spans close on several threads
                self.bookkeeping_s += s.start - t0 + self.clock() - s.end

    def patch(self, owner: object, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)`` until ``unwrap_all``."""
        fn = getattr(owner, attr)
        self._patches.append((owner, attr, fn))
        setattr(owner, attr, functools.wraps(fn)(make(fn)))

    def wrap(self, owner: object, attr: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span per call."""

        def make(fn):
            def traced(*args, **kwargs):
                with self.span(name or attr):
                    return fn(*args, **kwargs)

            return traced

        self.patch(owner, attr, make)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s.duration for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self": st[s.id]}) + "\n")
