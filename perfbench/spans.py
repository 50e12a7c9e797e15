"""In-memory span recorder for traced benchmark runs.

A span covers one call the benchmark makes into a layer of the program:
name, start, end, parent span, and the operation it belongs to (all spans
of one query or CLI call share an operation id). Counters read at a span's
boundaries ride along as attributes. Nothing is written until `dump`.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ops = 0

    def new_op(self) -> int:
        self._ops += 1
        return self._ops

    @contextmanager
    def span(self, name: str, op: int, **attrs):
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its child spans cover
        (children of one span run one after another, never overlapping)."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def summary(self) -> dict:
        """Self time per layer, and per operation label and layer."""
        by_layer: dict[str, float] = defaultdict(float)
        by_label: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        labels = {s["op"]: s["label"] for s in self.spans if "label" in s}
        for s, own in zip(self.spans, self.self_times()):
            by_layer[s["name"]] += own
            by_label[labels.get(s["op"], "?")][s["name"]] += own
        return {
            "self_s_by_layer": dict(by_layer),
            "self_s_by_label": {k: dict(v) for k, v in by_label.items()},
        }

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **self.summary(), **extra}, f)
