"""In-memory span recorder for the traced run.

A span has a name, start and end (seconds on ``time.perf_counter``), the id
of the span that caused it, and the run id shared by every span of one
benchmark run.  Spans stay in memory and are written as JSON lines when the
run ends.  ``Tracer(enabled=False)`` records nothing, so the timed runs pay
one attribute check per boundary.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # Parent for spans opened on threads with no open span of their own
        # (helper thread pools inside a query, engine worker threads).
        self.fallback_parent: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record one span around the ``with`` body; yields its attrs dict
        (callers may add counts to it) or None when tracing is off."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None:
            parent = stack[-1] if stack else self.fallback_parent
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({"id": sid, "parent": parent, "name": name,
                                   "start": start, "end": end, "run": self.run_id,
                                   **attrs})

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else self.fallback_parent

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus the part of it that
    its children's intervals cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length(kids.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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
