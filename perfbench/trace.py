"""Spans around the benchmark's own calls into each layer.

A span records the layer name, start, end, the span that caused it and the
request it belongs to.  Spans are kept in memory and written out once, when
the run ends.  In a traced run every request also tags the Spark jobs it
submits (``SparkContext.addJobTag``, a thread-local job property), so the
event log reader can attribute jobs, tasks and bytes to the request without
touching the job group a later in-library tag may use.

With tracing off, ``span`` and ``request`` cost one attribute check.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

TAG_PREFIX = "perfbench"


class Tracer:
    def __init__(self, enabled: bool, sc=None) -> None:
        self.enabled = enabled
        self._sc = sc
        self._spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = {
            "id": next(self._ids),
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else None,
            "start": time.perf_counter(),
        }
        s.update(attrs)
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self._spans.append(s)

    @contextlib.contextmanager
    def request(self, workload: str, family: str, rid: int):
        """Root span of one request; its Spark jobs carry the job tag
        ``perfbench:<workload>:<family>:<rid>``."""
        if not self.enabled:
            yield None
            return
        tag = f"{TAG_PREFIX}:{workload}:{family}:{rid}"
        self._sc.addJobTag(tag)
        try:
            with self.span("request", family=family) as s:
                s["request"] = rid
                s["tag"] = tag
                yield s
        finally:
            self._sc.removeJobTag(tag)

    @property
    def spans(self) -> list[dict]:
        with self._lock:
            return list(self._spans)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def self_times_ms(spans: list[dict]) -> dict[str, float]:
    """Per layer: total span time minus the part its child spans cover.
    Children of one span run on the span's own thread, one after another,
    so their durations add without overlap."""
    child_ms: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            ) * 1e3
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) * 1e3 - child_ms.get(s["id"], 0.0)
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, own)
    return out
