"""In-memory spans, written out once when the run ends.

A span has a name, a start and an end (epoch seconds), the id of the
span that caused it and free-form attributes; all spans of one run
share the run id. With tracing off, ``span`` still times its block
(the benchmark needs the durations) but keeps nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.cost_s = 0.0  # time spent recording spans

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time the block; ``box["s"]`` holds its duration afterwards.
        The parent is the enclosing span of this thread, or ``parent``
        for the outermost span of a thread."""
        box = {"id": next(self._ids)}
        stack = self._stack()
        parent = stack[-1] if stack else parent
        stack.append(box["id"])
        start = time.time()
        try:
            yield box
        finally:
            end = time.time()
            stack.pop()
            box["s"] = end - start
            if self.enabled:
                self.add(name, start, end, parent, box["id"], **attrs)

    def add(self, name: str, start: float, end: float, parent: int | None,
            span_id: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (a micro-batch phase)."""
        sid = span_id if span_id is not None else next(self._ids)
        if self.enabled:
            t0 = time.perf_counter()
            with self._lock:
                self.spans.append({"run": self.run_id, "id": sid, "parent": parent,
                                   "name": name, "start": start, "end": end, **attrs})
                self.cost_s += time.perf_counter() - t0
        return sid
