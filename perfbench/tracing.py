"""In-memory spans around the benchmark's calls into engine layers.

A span has a name, a layer, start and end (perf_counter seconds), a
parent span id, and the id of the operation it belongs to.  Spans stay
in a list until `dump()` writes them out at the end of the run.  With
tracing off, `span()` yields without recording anything.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": None, "name": name, "layer": layer,
            "op": op if op is not None else (parent["op"] if parent else name),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(), "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span's duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            if s["end"] is not None:
                out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def overhead_s(self) -> float:
        """Cost of recording this run's spans, from timing the tracer on
        a throwaway instance of the same size."""
        if not self.spans:
            return 0.0
        probe = Tracer(True)
        n = len(self.spans)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe", "probe"):
                pass
        return time.perf_counter() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
