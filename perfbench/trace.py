"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end, parent span and run id. Spans are kept in
memory and written out once, when the run ends. A span's self time is its
duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import itertools
import json
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

from perfbench.collect import interval_union


@dataclass
class Span:
    name: str
    run_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Times every span; keeps them only when ``enabled``."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._open[-1].span_id if self._open else None
        s = Span(name, self.run_id, next(self._ids), parent, time.perf_counter())
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            if self.enabled:
                self.spans.append(s)

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        return {
            s.span_id: s.duration - interval_union(children.get(s.span_id, []))
            for s in self.spans
        }

    def write(self, path: Path) -> None:
        self_times = self.self_times()
        records = [{**asdict(s), "self_s": self_times[s.span_id]} for s in self.spans]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(records, indent=0))
