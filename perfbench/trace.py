"""Spans recorded from outside the package.

A span is opened around a call into one layer's public function: it has a
name, start and end (seconds on the monotonic clock), the span that was
open when it started (its parent) and the run id every span of one pass
shares. Spans stay in memory; ``Tracer.dump`` writes them once at the end.

``patched`` swaps public functions for span-recording wrappers for the
length of a ``with`` block, by module attribute, so no package code
changes. A name that a module imported at load time is patched in that
module (``plans.flow:extract_text``); a name imported inside a function
body is patched where it is defined (``operators.dedup:...``). Each wrapped call also tags the Spark jobs it
runs with a job group named after the span, which is how the status
store attributes jobs to layers.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    children cover (overlapping children are merged, not double counted)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.dur - covered
    return out


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def group(self, name: str) -> str:
        """The Spark job group of the spans called ``name``."""
        return f"{self.run_id}/{name}"

    def groups(self) -> set[str]:
        return {self.group(s.name) for s in self.spans}

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time a block as one span; the Spark jobs it runs on this thread
        join the span's job group. ``parent`` defaults to the span open
        on this thread; pass it for a block running on another thread."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            s = Span(name, time.perf_counter(), 0.0, parent, self.run_id,
                     len(self.spans))
            self.spans.append(s)
        stack.append(s.id)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(self.group(name), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if sc is not None:
                if stack:
                    up = self.spans[stack[-1]].name
                    sc.setJobGroup(self.group(up), up)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def wall(self, name: str) -> float:
        """First start to last end of the spans called ``name``."""
        mine = [s for s in self.spans if s.name == name]
        if not mine:
            return 0.0
        return max(s.end for s in mine) - min(s.start for s in mine)

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self_times(self.spans)
        rows = [dict(asdict(s), dur=s.dur, self=selfs[s.id])
                for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows,
                       **(extra or {})}, f, indent=1, default=float)


@contextlib.contextmanager
def patched(targets: dict[str, object]):
    """Temporarily set ``"pkg.module:attr"`` to the given object."""
    saved = []
    try:
        for target, obj in targets.items():
            mod_name, attr = target.split(":")
            mod = importlib.import_module(mod_name)
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, obj)
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)
