"""In-memory spans around the calls the benchmark makes into each layer.

A span is (name, start, end, parent); times are epoch seconds so they
line up with the catalog's manifest ``created_at`` stamps and Spark's
event-log timestamps.  Spans stay in memory and are written once, when
the run ends."""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None) -> int:
        """Record a finished span (e.g. one rebuilt from manifests)."""
        self.spans.append({"id": len(self.spans), "name": name,
                           "start": start, "end": end, "parent": parent})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str):
        """Time the enclosed call; nested spans get this one as parent.
        Yields the span record, whose ``end`` is set on exit."""
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), float("nan"), parent)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()
