"""Spans recorded from outside the program.

A `Tracer` wraps public entry points by replacing the module or class
attribute the caller looks up, records one span per call (name, layer,
start, end, parent, run id) and tags every Spark job submitted inside the
span with the local property `perfbench.span`, so the event log can tie
jobs back to spans. Spans stay in memory until `dump`.

With `enabled=False` every method is a no-op and nothing is patched.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    def _tag(self, sid: int | None) -> None:
        self.spark.sparkContext.setLocalProperty(
            SPAN_PROPERTY, None if sid is None else str(sid)
        )

    @contextmanager
    def span(self, name: str, layer: str, entry: bool = False):
        """One span; `entry` marks a call into the program (a wrapped entry
        point) rather than a step the benchmark itself times."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "entry": entry,
            "start": time.time(),
        }
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    def wrap_callable(self, fn, name: str, layer: str):
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer, entry=True):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str, layer: str) -> None:
        """Replace owner.attr (a module function or class method) by a
        traced wrapper; `restore` puts the original back."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap_callable(orig, name, layer))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[int | None, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        for c in children.get(s["id"], []):
            covered += max(0.0, min(c["end"], s["end"]) - max(c["start"], s["start"]))
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out
