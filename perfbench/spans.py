"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run id) plus free-form counters
(bytes, rows, chunks) recorded at the same boundary.  Spans stay in
memory while the run measures and are written out once at the end;
per-layer metrics are derived from the recorded spans only.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block; `attrs` (and keys the block adds to the
        yielded dict) are stored with the span.  A no-op when off."""
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def named(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name
                and s["end"] is not None]

    def median_s(self, name: str) -> float:
        return statistics.median(s["end"] - s["start"]
                                 for s in self.named(name))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")
