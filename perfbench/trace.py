"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, its parent span and the trace id of
the round (or set-up phase) it belongs to. Spans stay in memory and
are written once, when the run ends. A disabled tracer records
nothing, so untraced runs pay only a context-manager call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = "setup"
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span record (``None`` when disabled); callers may
        add attributes to it before the block ends."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans) + len(self._stack) + 1,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "name": name,
            "start": time.perf_counter(),
            **attrs,
        }
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        spans = sorted(self.spans, key=lambda s: s["start"])
        with open(path, "w") as fh:
            json.dump(spans, fh, indent=1, sort_keys=True)
