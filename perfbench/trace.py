"""In-memory spans around the calls the benchmark makes into each layer.

A span has a name whose first dotted part is the layer (``session``,
``tables``, ``sources``, ``checkpoint``, ``ops``, ``sinks``, ``batch``),
a start and end in epoch seconds, the id of the span that caused it, and
the run id shared by every span of one benchmark run. Spans stay in memory
and are written once, when the run ends. A layer's self time is the time
its spans cover minus the part their child spans cover.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans when enabled; every method is a no-op otherwise."""

    def __init__(self, enabled: bool, run_id: str | None = None):
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        """Record a span whose times were measured elsewhere."""
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, self.run_id, attrs))
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the enclosed block as a child of the innermost open span.
        Use from the main thread only."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def layer_self_s(self) -> dict[str, float]:
        """Self time summed per layer (the first dotted part of the name)."""
        out: dict[str, float] = {}
        for sid, t in self_times(self.spans).items():
            layer = self.spans[sid].name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + t
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": [asdict(s) for s in self.spans]}, f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals,
    clipped to the span (children may overlap each other or spill out)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(p.id, []).append((lo, hi))
    return {
        s.id: max(0.0, (s.end - s.start) - _covered(kids.get(s.id, [])))
        for s in spans
    }
