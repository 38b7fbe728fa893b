"""Span tracing from outside the program.

:class:`Tracer` replaces a public function at the module or class attribute
its caller resolves with a wrapper that records a span (name, layer, start,
end, parent, pass id) and runs the call's Spark jobs under the span's own
job group, so stage metrics attach to the innermost span. ``uninstall``
puts every original back.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    pass_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"span-{self.sid}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, self.pass_id,
                  parent.sid if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name: str, layer: str, count=None) -> None:
        """Trace every call of ``owner.attr``; ``count(span, args, result)``
        may record counts on the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name, layer) as sp:
                result = original(*args, **kwargs)
                if count is not None:
                    count(sp, args, result)
                return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def pass_spans(self, pass_id: int) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the time its direct children cover."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + s.wall
    return {s.sid: s.wall - child_time.get(s.sid, 0.0) for s in spans}
