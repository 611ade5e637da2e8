"""In-memory spans recorded from the benchmark's side of each layer call.

A span has an id, name, start, end, parent and the run id. Spans are kept
in a list and written out once, with the rest of the sidecar, at the end
of the run. The tracer times its own bookkeeping so the traced run can
report what tracing cost.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0

    def add(self, name: str, start: float, end: float | None,
            parent: int | None = None) -> dict:
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "start": start,
               "end": end, "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self.overhead_s += time.perf_counter() - t0
        return rec

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Yields the span record; row counts set on it are kept with it."""
        rec = self.add(name, time.perf_counter(), None, parent)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
