"""In-memory span recorder and per-layer self time.

A span is ``(id, parent, run_id, name, layer, start, end)`` with times in
seconds on the ``time.monotonic`` clock. Spans are kept in a list and
written out once, as JSON lines, when the benchmark ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    run_id: str
    name: str
    layer: str
    start: float
    end: float = 0.0


class Tracer:
    """Records nested spans; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sp = self.add(name, layer, time.monotonic(), 0.0)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.monotonic()

    def add(self, name: str, layer: str, start: float, end: float, parent=None) -> Span:
        """Record a span whose times are already known (e.g. a micro-batch
        reported by Spark), under ``parent`` or the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        sp = Span(len(self.spans), parent, self.run_id, name, layer, start, end)
        self.spans.append(sp)
        return sp

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_times(spans: list[Span], root: Span) -> dict[str, float]:
    """Self time per layer over the subtree of ``root``: each span's
    duration minus the part of it its children cover, with children
    clipped to their parent's interval. When siblings do not overlap, as
    here, the values sum to the root's duration."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out: dict[str, float] = {}

    def walk(sp: Span, lo: float, hi: float) -> None:
        s, e = max(sp.start, lo), min(sp.end, hi)
        if e <= s:
            return
        kids = children.get(sp.id, [])
        cov = _covered([(max(k.start, s), min(k.end, e)) for k in kids if k.end > s and k.start < e])
        out[sp.layer] = out.get(sp.layer, 0.0) + (e - s) - cov
        for k in kids:
            walk(k, s, e)

    walk(root, root.start, root.end)
    return out
