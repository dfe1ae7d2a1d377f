"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, run id).  Spans live in a list until
the run ends; ``dump`` writes them out as JSON lines and ``self_times``
reports each name's self time: its spans' durations minus the part of each
interval covered by direct child spans.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Recorder:
    def __init__(self, run_id: str):
        self.run_id = run_id
        # (name, start, end, index of the parent span or -1)
        self.spans: list[tuple[str, float, float, int]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p)

    def self_times(self, first: int = 0) -> dict[str, float]:
        """Seconds of self time per span name, over the spans recorded
        from index `first` on."""
        child_cover = defaultdict(float)
        for _, t0, t1, parent in self.spans[first:]:
            if parent >= first:
                child_cover[parent] += t1 - t0
        out = defaultdict(float)
        for i in range(first, len(self.spans)):
            name, t0, t1, _ = self.spans[i]
            out[name] += (t1 - t0) - child_cover[i]
        return dict(out)

    def durations(self, name: str, first: int = 0) -> list[float]:
        return [t1 - t0 for n, t0, t1, _ in self.spans[first:] if n == name]

    def dump(self, path: str):
        with open(path, "w") as f:
            for i, (name, t0, t1, parent) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start": t0,
                                    "end": t1, "parent": parent,
                                    "run": self.run_id}) + "\n")
