"""In-memory spans around the calls the benchmark makes into each
package module, written out once when the run ends."""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class Tracer:
    """Records (name, start, end, parent, run id) spans. Parents are
    tracked per thread, so a span opened inside another on the same
    thread is its child."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """A span; its parent is ``parent`` if given (work handed to
        another thread), else the innermost open span of this thread."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]
        rec = {"id": sid, "name": name, "parent": parent,
               "run": self.run_id, "start": time.time(), "end": None, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def span_cost_s(self, n: int = 20_000) -> float:
        """Seconds one recorded span costs the traced code, measured on
        a scratch tracer."""
        probe = Tracer(self.run_id)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe", epoch=0):
                pass
        return (time.perf_counter() - t0) / n

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")
