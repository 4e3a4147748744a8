"""In-memory spans recorded around calls into the program's layers.

A span has a name, start, end, parent and run id, plus the counts taken at
the same boundary. Spans stay in memory and are written out once, when the
run ends. With tracing off, ``span`` costs one attribute check and records
nothing, so the untraced run measures the program alone.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        """Time the block as one span; the block may add counts to the
        yielded dict. Yields a plain dict when tracing is off."""
        if not self.enabled:
            yield counts
            return
        sp = Span(name, time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None,
                  run_id=self.run_id, counts=counts)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp.counts
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of it its children cover."""
        covered: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                covered.setdefault(sp.parent, []).append((sp.start, sp.end))
        out = []
        for i, sp in enumerate(self.spans):
            busy, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(covered.get(i, [])):
                s, e = max(s, sp.start), min(e, sp.end)
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        busy += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                busy += cur_e - cur_s
            out.append(max(sp.duration - busy, 0.0))
        return out

    def by_name(self) -> dict[str, dict]:
        """Per span name: calls, median self time and the summed counts."""
        selfs = self.self_times()
        groups: dict[str, dict] = {}
        for sp, st in zip(self.spans, selfs):
            g = groups.setdefault(sp.name, {"self": [], "counts": {}})
            g["self"].append(st)
            for k, v in sp.counts.items():
                if isinstance(v, (int, float)):
                    g["counts"][k] = g["counts"].get(k, 0) + v
        return {
            n: {"calls": len(g["self"]),
                "self_p50_s": statistics.median(g["self"]),
                "counts": g["counts"]}
            for n, g in groups.items()
        }

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for sp, st in zip(self.spans, selfs):
                fh.write(json.dumps({
                    "name": sp.name, "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "run_id": sp.run_id,
                    "self_s": st, "counts": sp.counts,
                }) + "\n")
