"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, iteration).  Spans are opened at
the boundaries where the benchmark calls into a layer of the program,
kept in memory and written once at the end of the run.  Spans opened
on a thread with no open span of its own (the runner's submit pool)
hang under the op that was running when they started.  Each span
also carries the number of Py4J calls made while it was open (by any
thread).
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, t0: float, calls=lambda: 0):
        self.t0 = t0
        self.calls = calls
        self.active = False
        self.iteration = -1
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, top: bool = False):
        if not self.active:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._op
        rec = {
            "name": name,
            "parent": None if top else parent,
            "iteration": self.iteration,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        c0 = self.calls()
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        if top:
            self._op = rec["id"]
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self.t0
            rec["py4j_calls"] = self.calls() - c0
            if top:
                self._op = None

    def wrap(self, owner, attr: str, name: str, count=None):
        """Replace ``owner.attr`` by a traced call-through.  ``count``,
        if given, is called as ``count(args, since)`` after the call
        (``since``: wall-clock start) and its dict is added to the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                since = time.time()
                out = fn(*args, **kwargs)
                if count is not None:
                    rec.update(count(args, since))
                return out

        setattr(owner, attr, traced)

    # -- summaries -----------------------------------------------------

    def of(self, name: str, iteration: int) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["iteration"] == iteration
        ]

    def total(self, name: str, iteration: int, key: str | None = None) -> float:
        """Summed duration (or ``key``) of the named spans."""
        spans = self.of(name, iteration)
        if key is None:
            return sum(s["end"] - s["start"] for s in spans)
        return sum(s.get(key, 0) for s in spans)

    def with_self_time(self) -> list[dict]:
        """Spans with ``self_s``: duration minus what children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = _union_s(
                [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])]
            )
            out.append(dict(s, self_s=dur - covered))
        return out

    def uncovered_frac(self, iteration: int, start: float, end: float) -> float:
        """Share of the iteration's wall time no top-level span covers."""
        tops = [
            (s["start"], s["end"])
            for s in self.spans
            if s["iteration"] == iteration and s["parent"] is None
        ]
        wall = end - start
        return (wall - _union_s(tops)) / wall if wall > 0 else 0.0
