"""In-memory span recorder for the traced run.

A span is (id, parent, name, start, end, attrs); parents follow the
calling thread's open spans, so spans recorded inside a ``foreachBatch``
callback (which Spark runs on another Python thread) nest under that
thread's own spans. Nothing is written until ``dump`` at the end of the
run. With tracing off the benchmark uses ``NullTracer``, whose spans cost
one attribute lookup.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "parent": stack[-1] if stack else None, "name": name,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": sorted(self.spans, key=lambda s: s["start"]),
                       "self_s": self.self_times()}, fh)


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None
