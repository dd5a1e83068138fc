"""Spans around the benchmark's calls into each layer.

A span records name, start, end, parent span and pass id, plus the engine
marks at both ends; spans stay in memory and are written out as JSON lines
when the run ends.  ``pass_metrics`` turns one pass's spans into per-layer
metrics: a layer's self time is its spans' duration minus the part its
child spans cover, and its engine counters are those of the jobs its spans
submitted.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from counters import EngineCounters, Mark


@dataclass
class Span:
    id: int
    name: str
    pass_id: int
    parent: int | None
    start: float
    end: float = 0.0
    begin_mark: Mark | None = None
    end_mark: Mark | None = None
    rows_out: int = 0
    extra: dict = field(default_factory=dict)   # layer-specific metrics
    work: dict = field(default_factory=dict)    # engine counters, filled late


class Tracer:
    def __init__(self, counters: EngineCounters):
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, pass_id: int):
        sp = Span(
            id=len(self.spans), name=name, pass_id=pass_id,
            parent=self._stack[-1] if self._stack else None,
            start=time.perf_counter() - self._t0,
            begin_mark=self.counters.mark(),
        )
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter() - self._t0
            sp.end_mark = self.counters.mark()

    def pass_metrics(self, pass_id: int, cores: int) -> dict[str, float]:
        """``<layer>.<metric>`` for every layer with a span in the pass.
        Repeated spans of one layer (e.g. one commit per stage) add up."""
        self.counters.drain()
        spans = [s for s in self.spans if s.pass_id == pass_id]
        child_s: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_s[s.parent] = child_s.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        heaviest: dict[str, float] = {}
        for s in spans:
            w = self.counters.work(s.begin_mark, s.end_mark)
            s.work = asdict(w)
            wall = s.end - s.start
            vals = {
                "self_s": wall - child_s.get(s.id, 0.0),
                "task_s": w.task_s,
                "driver_s": max(0.0, wall - w.job_busy_s),
                "rows_out": s.rows_out,
                "shuffle_write_mb": w.shuffle_write_bytes / 1e6,
                "jobs": w.jobs,
                **s.extra,
            }
            for k, v in vals.items():
                key = f"{s.name}.{k}"
                out[key] = out.get(key, 0) + v
            if w.heaviest_ms >= heaviest.get(s.name, -1.0):
                heaviest[s.name] = w.heaviest_ms
                out[f"{s.name}.task_skew"] = w.task_skew
            if s.name == "engine":
                out["engine.busy_frac"] = w.task_s / (wall * cores)
                out["engine.gc_s"] = w.gc_s
                out["engine.spill_mb"] = w.spill_bytes / 1e6
                out["engine.stages"] = w.stages
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["begin_mark"] = asdict(s.begin_mark) if s.begin_mark else None
                rec["end_mark"] = asdict(s.end_mark) if s.end_mark else None
                f.write(json.dumps(rec) + "\n")
