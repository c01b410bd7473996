"""Spans recorded around the engine's public calls, kept in memory.

The traced run wraps ``partitioning.heavy_hosts`` and
``catalog.commit_snapshot`` in place (the engine looks both up through
their modules at call time) and opens one span per job-path call. Each
call also tags its Spark jobs with the ``perfbench.call`` local property,
which is how ``eventlog.py`` joins Spark's task metrics to the call.
"""

from __future__ import annotations

import contextlib
import json
import time

CALL_PROPERTY = "perfbench.call"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._patched: list[tuple] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "call": attrs.pop("call", parent["call"] if parent else None),
            **attrs,
            "start_s": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            self._open.pop()

    @contextlib.contextmanager
    def call(self, spark, name: str, call_id: str):
        """One job-path call: a span, and its id on every Spark job."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        sc.setLocalProperty(CALL_PROPERTY, call_id)
        try:
            with self.span(name, call=call_id):
                yield
        finally:
            sc.setLocalProperty(CALL_PROPERTY, None)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that records a span."""
        if not self.enabled:
            return
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def restore(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def seconds(self, name: str, call_id: str) -> float:
        """Total duration of the spans called ``name`` inside a call."""
        return sum(
            s["end_s"] - s["start_s"]
            for s in self.spans
            if s["name"] == name and s["call"] == call_id
        )

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)
