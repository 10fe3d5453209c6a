"""In-memory spans for the benchmark's traced runs.

A span has a name, start, end and the span that was open when it began;
all spans of one run share the run id. Spans stay in memory; the trial
hands them to the harness with its result, which writes them out once.
Spans are recorded only around calls made from the benchmark's own files;
nothing inside the package is instrumented.
"""

from __future__ import annotations

import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Span recorder; with ``enabled=False`` every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "run": self.run_id, "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover
        (children of one span never overlap: they run on its thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = (out.get(s["name"], 0.0)
                                  + s["end"] - s["start"] - child[s["id"]])
        return out
