"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run id) plus the counters read at
its boundaries. Spans nest through a stack: a span opened while another
is open becomes its child. Nothing is written until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1].name if self._open else None
        s = Span(name, time.perf_counter(), parent=parent, run_id=self.run_id)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self.spans.append(s)

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        """Inclusive seconds of every span called ``name``."""
        return [s.seconds for s in self.spans if s.name == name]

    def self_seconds(self, name: str) -> float:
        """Inclusive time minus the time of the span's children."""
        s = self.get(name)
        return s.seconds - sum(c.seconds for c in self.spans if c.parent == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)
