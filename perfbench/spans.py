"""In-memory spans and counters for the traced run.

A span has a name, start, end, parent and run id. Spans stay in memory
and are written out once, when the run ends. A layer's self time is its
span's duration minus the part of that interval its child spans cover.
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
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + n

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Summed duration of the spans called `name`, minus the time their
        direct children cover (children of one span do not overlap)."""
        out = 0.0
        for i, s in enumerate(self.spans):
            if s["name"] != name:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            out += (s["end"] - s["start"]) - kids
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "counters": self.counters}, fh)
