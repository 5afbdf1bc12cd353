"""In-memory spans, written out once when the run ends."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, trace_id: str, parent: int | None = None, **attrs):
        """Record one span around the block; the block may add
        attributes to the yielded dict (row counts, say)."""
        self._next += 1
        rec = {"span_id": self._next, "parent_id": parent, "trace_id": trace_id,
               "name": name, "attrs": dict(attrs)}
        rec["start_ns"] = time.perf_counter_ns()
        try:
            yield rec
        finally:
            rec["end_ns"] = time.perf_counter_ns()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start_ns"]):
                f.write(json.dumps(rec, default=float) + "\n")


def seconds(rec: dict) -> float:
    return (rec["end_ns"] - rec["start_ns"]) / 1e9
