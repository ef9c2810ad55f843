"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent, run_id); spans nest by call
order. Nothing is written until ``dump`` at the end of the run, so
recording costs two clock reads and a list append per span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.perf_counter(), float("nan"), parent, self.run_id)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def total(self, name: str) -> float:
        """Summed wall seconds of every span called ``name``."""
        return sum(s.duration for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover.

        Children of one span run one after another (the benchmark is a
        single closed-loop client), so their covered time is the sum of
        their durations, clipped to the parent's interval."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                p = self.spans[s.parent]
                covered[s.parent] += max(
                    0.0, min(s.end, p.end) - max(s.start, p.start)
                )
        out: dict[str, float] = {}
        for s, c in zip(self.spans, covered):
            out[s.name] = out.get(s.name, 0.0) + max(0.0, s.duration - c)
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        doc = {
            "run_id": self.run_id,
            "spans": [asdict(s) for s in self.spans],
            "self_s": self.self_times(),
        }
        doc.update(extra or {})
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
