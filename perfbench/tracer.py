"""In-memory span recorder for the traced run.

Each span records a name, start, end and parent; all spans of one job
share the job's id. Spans stay in memory until :meth:`Tracer.dump`.
A span's self time is its duration minus the time its child spans
cover (children of one span run one after another here).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._jobs = 0

    def new_job(self) -> int:
        self._jobs += 1
        return self._jobs

    @contextmanager
    def span(self, name: str, job: int):
        rec = {
            "id": len(self.spans),
            "job": job,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, job: int) -> dict[str, float]:
        """Self seconds per span name, summed over the job's spans."""
        spans = [s for s in self.spans if s["job"] == job]
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def duration(self, job: int, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["job"] == job and s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)
