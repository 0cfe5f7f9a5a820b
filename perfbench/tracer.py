"""In-memory span recorder for traced benchmark runs.

A span is one call into a layer, timed from the benchmark's side: name,
start, end, parent span and run id.  Spans stay in memory and are written
once, when the run ends.  A layer is the part of a span name before the
first dot (``pipeline.run_pipeline`` belongs to ``pipeline``).

Self time of a span is its duration minus the time its child spans cover.
The benchmark is single-threaded, so children never overlap and the self
times of all spans add up exactly to the root span's duration.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0] if "." in self.name else "root"


class Tracer:
    """Records nested spans when ``enabled``; a no-op otherwise."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        return {s.id: (s.end - s.start) - covered[s.id] for s in self.spans}

    def self_time_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        own = self.self_times()
        for s in self.spans:
            out[s.layer] += own[s.id]
        return dict(out)

    def span_cost_s(self, n: int = 2000) -> float:
        """Mean cost of recording one span, measured on a throwaway tracer."""
        probe = Tracer(self.run_id, True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("x.y"):
                pass
        return (time.perf_counter() - t0) / n

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"run_id": self.run_id, **asdict(s)}) + "\n")
