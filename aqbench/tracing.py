"""Spans around calls into the engine, recorded from outside it.

``Tracer.install`` wraps every public function of every loaded
``asvsp_spark`` module, in every module namespace that holds it (so a
``from x import f`` binding is wrapped too). A function it returns (a
``foreachBatch`` sink, say), or a dict of functions (the query
registry), is wrapped in its caller's layer. Spans
live in memory; ``uninstall`` restores the original functions.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import math
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "asvsp_spark"


def percentile(values: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (numpy's default), for
    ``0 <= q <= 100``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_supported_percentile(n: int, tail: int = 10) -> int | None:
    """The highest of p50/p90/p99 with at least ``tail`` of ``n`` samples
    beyond it, or None when not even the median qualifies."""
    for q in (99, 90, 50):
        if n * (100 - q) / 100.0 >= tail:
            return q
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_of(module: str, name: str) -> str:
    """Layer name of a public function: the module path below the
    package, with the plans/sources/streaming sub-modules folded into one
    layer each, and dedup's incremental stores split from its batch
    operators."""
    parts = module.split(".")[1:]
    if not parts:
        return "package"
    if parts[0] in ("plans", "sources", "streaming", "functions"):
        return parts[0]
    if parts[:2] == ["operators", "dedup"] and name.startswith("incremental_"):
        return "operators.incremental"
    return ".".join(parts[:2])


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    start: float  # epoch seconds, comparable with Spark's event times
    end: float = math.nan
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._open: list[Span] = []  # all threads, in start order
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def __reduce__(self):
        # a traced function shipped to a Python worker (mapInPandas, say)
        # pickles its tracer: the worker gets an empty one of its own
        return (Tracer, ())

    # -- recording -------------------------------------------------------
    def begin(self, layer: str, name: str) -> Span:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            # a callback thread (foreachBatch) has no stack of its own;
            # its parent is the innermost span open anywhere
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            span = Span(next(self._ids), parent.sid if parent else None,
                        layer, name, time.time())
            if parent:
                parent.children.append(span.sid)
            self.spans.append(span)
            self._open.append(span)
        stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        self._local.stack.remove(span)
        with self._lock:
            self._open.remove(span)

    def wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.begin(layer, name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(span)
            if inspect.isfunction(out):
                return tracer.wrap(out, layer, f"{name}.<returned>")
            if (isinstance(out, dict) and out
                    and all(inspect.isfunction(v) for v in out.values())):
                # a registry: name -> plan builder
                return {k: tracer.wrap(v, layer, str(k)) for k, v in out.items()}
            return out
        traced.__wrapped_by_tracer__ = True
        return traced

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))]
        wrapped: dict[int, object] = {}
        for mod in mods:
            for name, obj in list(vars(mod).items()):
                if (inspect.isfunction(obj) and not name.startswith("_")
                        and obj.__module__ == mod.__name__
                        and not getattr(obj, "__wrapped_by_tracer__", False)):
                    wrapped[id(obj)] = self.wrap(
                        obj, layer_of(obj.__module__, name), name)
        for mod in mods:
            for name, obj in list(vars(mod).items()):
                if id(obj) in wrapped and inspect.isfunction(obj):
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, wrapped[id(obj)])

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._patched):
            setattr(mod, name, obj)
        self._patched.clear()

    # -- analysis --------------------------------------------------------
    def self_times(self, spans: list[Span] | None = None) -> dict[int, float]:
        """Self time of each span: its duration minus the part of its
        interval that its child spans cover."""
        by_id = {s.sid: s for s in self.spans}
        out = {}
        for s in (self.spans if spans is None else spans):
            kids = [(max(by_id[c].start, s.start), min(by_id[c].end, s.end))
                    for c in s.children if not math.isnan(by_id[c].end)]
            out[s.sid] = (s.end - s.start) - union_length(kids)
        return out

    def innermost(self, t: float) -> Span | None:
        """The latest-started closed span whose interval holds ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start > best.start):
                best = s
        return best
