"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (layer, name, start, end, parent, workload, query). Spans nest
on one thread, so a span's self time is its duration minus the durations
of its direct children. A disabled tracer hands out one shared no-op
context manager, so untraced passes pay no bookkeeping beyond a call.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

_NULL = contextlib.nullcontext()


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, layer: str, name: str, query: str | None = None):
        if not self.enabled:
            return _NULL
        return self._span(layer, name, query)

    @contextlib.contextmanager
    def _span(self, layer: str, name: str, query: str | None):
        rec = {
            "layer": layer,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "query": query,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def mark(self) -> int:
        """Index of the next span, to delimit the spans of one pass."""
        return len(self.spans)

    def self_times(self, lo: int = 0, hi: int | None = None) -> dict[str, float]:
        """Self time per layer over spans[lo:hi]."""
        spans = self.spans[lo:hi]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None and s["parent"] >= lo:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(spans, start=lo):
            out[s["layer"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def totals(self, lo: int = 0, hi: int | None = None) -> dict[str, float]:
        """Summed duration per span name over spans[lo:hi]."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans[lo:hi]:
            out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
