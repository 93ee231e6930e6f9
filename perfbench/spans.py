"""Span tracing from outside the package.

A traced run wraps the public entry points of the package's modules
(functions and class methods) with spans recorded here; nothing under
the package directory changes.  A span is (name, start, end, parent,
op id, phase); the parent is the innermost open span of the same
thread, so nesting follows the call stack.  Spans stay in memory and
are summarised when the run ends.

Self time of a span is its duration minus the part of its interval
covered by its child spans (children that overlap each other, as
threaded children can, are counted once).
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

PACKAGE = "datafusion_async_parquet_index_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    phase: str


class Tracer:
    """Collects spans and counts; ``op`` and ``phase`` are set by the
    workload loop and stamped on every span that starts under them."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.op: int | None = None
        self.phase = "setup"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        """Context manager recording one span."""
        return _SpanCtx(self, name)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[(self.phase, name)] += n

    def _open(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                                   self.op, self.phase))
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack().pop()

    # -- wrapping ------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        by a span-recording wrapper.  For a module function every
        package module that imported the same object by name is
        rebound too, so ``from .stats import build_index`` callers see
        the wrapper.  ``after(tracer, args, kwargs, result)`` runs after
        a successful call, outside the span, to record counts."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = self._open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                self._close(idx)
            if after is not None:
                after(self, args, kwargs, result)
            return result

        targets = [owner]
        if not isinstance(owner, type):
            targets += [m for key, m in list(sys.modules.items())
                        if key.startswith(PACKAGE) and m is not owner
                        and getattr(m, attr, None) is orig]
        for t in targets:
            self._undo.append((t, attr, orig))
            setattr(t, attr, wrapper)

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


class _SpanCtx:
    __slots__ = ("_tracer", "_name", "_idx")

    def __init__(self, tracer: Tracer, name: str):
        self._tracer, self._name = tracer, name

    def __enter__(self):
        self._idx = self._tracer._open(self._name)
        return self

    def __exit__(self, *exc):
        self._tracer._close(self._idx)
        return False


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals,
    each child clipped to the parent's interval."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        kids = [(max(c.start, s.start), min(c.end, s.end))
                for c in children.get(i, ())]
        kids = [(a, b) for a, b in kids if b > a]
        out.append((s.end - s.start) - covered(kids))
    return out


def summarize(spans: list[Span], phases: set[str]) -> dict:
    """{name: {"calls", "total_s", "self_s"}} over spans of ``phases``."""
    selfs = self_times(spans)
    out: dict = {}
    for s, own in zip(spans, selfs):
        if s.phase not in phases:
            continue
        a = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        a["calls"] += 1
        a["total_s"] += s.end - s.start
        a["self_s"] += own
    return out
