"""Spans around the benchmark's calls into the engine's layers.

A span records (id, parent, pass id, layer, name, kind, start, end).
Spans live in memory and are written once, when the run ends.  While a
span is open its id is the Spark job group, so every Spark job is
attributed to the innermost open span; the event log then gives each
span its jobs, stages, tasks, executor time and bytes.

Each layer call gets a ``call`` span with two children: ``build`` (the
public function's own call, including any jobs it runs eagerly) and,
when the function returns a DataFrame, ``exec`` (a noop write that
forces the layer's output).  ``Tracer(enabled=False)`` records nothing
and forces nothing, so the untraced run does only the workload's work.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame

from . import eventlog


@dataclass
class Span:
    id: int
    parent: int | None
    pass_id: int
    layer: str
    name: str
    kind: str  # pass | phase | call | build | exec | check
    start: float
    end: float = 0.0


class Tracer:
    """Records spans for one run; a disabled tracer only runs the calls."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_id = 0

    @contextmanager
    def span(self, layer: str, name: str, kind: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, self.pass_id, layer, name, kind, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty(eventlog.GROUP_KEY, None)
        else:
            sc.setJobGroup(str(s.id), f"{s.layer}:{s.name}")

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        """Call a layer's public function; when tracing, time its build
        and force its DataFrame output in a separate exec span."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(layer, name, "call"):
            with self.span(layer, name, "build"):
                out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                with self.span(layer, name, "exec"):
                    out.write.format("noop").mode("overwrite").save()
        return out

    def action(self, layer: str, name: str, fn):
        """Run an action the workload itself performs (a collect, a
        sink write) as the exec span of a layer call."""
        with self.span(layer, name, "exec"):
            return fn()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its children cover (children of a
    span run one after another, so their durations do not overlap)."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.id: (s.end - s.start) - child[s.id] for s in spans}
