"""In-memory span recorder for the traced run.

Spans are recorded around the benchmark's own calls into each layer:
name, start, end and the enclosing span. Self time is a span's
duration minus the part of it covered by its children. Nothing is
written until :meth:`Tracer.dump` at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's
        intervals (children of one parent never overlap here, since
        the recorder is single-threaded)."""
        child_total: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_total[s["parent"]] = child_total.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        return {
            s["id"]: (s["end"] - s["start"]) - child_total.get(s["id"], 0.0)
            for s in self.spans
            if s["end"] is not None
        }

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0,
             "self": selfs.get(s["id"])}
            for s in self.spans
            if s["end"] is not None
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
