"""In-memory span recorder for the traced benchmark run.

A span records name, start, end, parent span and run id. Spans are taken
by the benchmark around its calls into the engine's modules; nothing in
the engine is instrumented. They stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its record (``None`` when disabled) so
        the caller can attach counts measured inside it. The time spent in
        this bookkeeping accumulates in ``overhead_s``."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": None,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its children cover. Spans come
        from one thread, so children never overlap each other."""
        return self.duration(rec) - sum(self.duration(c) for c in self.children(rec))

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        """Spans called ``name``, optionally only the descendants of ``within``."""
        found = [s for s in self.spans if s["name"] == name]
        if within is None:
            return found
        out = []
        for s in found:
            p = s["parent"]
            while p is not None and p != within["id"]:
                p = self.spans[p]["parent"]
            if p == within["id"]:
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [dict(s, self_s=self.self_time(s)) for s in self.spans], fh, indent=0
            )
