"""Spans around the benchmark's calls into engine layers.

``Tracer.call(layer, fn, ...)`` tags every Spark job that ``fn`` starts with
the job group ``<job>|<layer>`` and records a construction span;
``Tracer.action`` does the same for the job's final action. Spans stay in
memory and are handed to the ledger once, at the end of the run. With
tracing off, ``NullTracer`` calls straight through.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class Span:
    job: int
    layer: str
    kind: str  # "construct" | "action" | "job"
    t0: float  # epoch seconds, the event log's clock
    t1: float


class NullTracer:
    def begin_job(self, job: int) -> None:
        pass

    def end_job(self) -> None:
        pass

    def call(self, layer, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def action(self, layer, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def count(self, name: str, value) -> None:
        """Record ``value()`` under ``name``; only evaluated when tracing."""


@dataclass
class Tracer(NullTracer):
    sc: object
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, list[float]] = field(default_factory=dict)
    job: int = -1
    _job_t0: float = 0.0

    def _group(self, layer: str) -> None:
        self.sc.setJobGroup(f"{self.job}|{layer}", layer)

    def begin_job(self, job: int) -> None:
        self.job = job
        self._group("driver")
        self._job_t0 = time.time()

    def end_job(self) -> None:
        self.spans.append(Span(self.job, "job", "job", self._job_t0, time.time()))
        self._group("driver")

    def _span(self, layer, kind, fn, args, kwargs):
        self._group(layer)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans.append(Span(self.job, layer, kind, t0, time.time()))
            self._group("driver")

    def call(self, layer, fn, *args, **kwargs):
        return self._span(layer, "construct", fn, args, kwargs)

    def action(self, layer, fn, *args, **kwargs):
        return self._span(layer, "action", fn, args, kwargs)

    def count(self, name: str, value) -> None:
        self.counts.setdefault(name, []).append(value())
