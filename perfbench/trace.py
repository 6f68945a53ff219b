"""In-memory spans for the traced run, and the self-time arithmetic.

A span has a name (`<layer>.<what>`), start and end on the
`time.perf_counter` clock, the id of the span that was open on the same
thread when it began, and the id of the batch or query it serves.
Spans stay in memory and are written out once, when the run ends.

A layer's self time is the span's duration minus the part of that
interval its child spans cover (overlapping children count once).
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
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
    """span id -> duration minus the time its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.dur - covered(kids.get(s.sid, []), s.start, s.end) for s in spans
    }


class Tracer:
    """Collects spans when enabled; `span()` is a no-op otherwise.

    `on_enter`/`on_exit` hooks let the run attach per-span readings
    (Spark job groups, /proc CPU) without this module knowing Spark."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.on_enter = None
        self.on_exit = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def note(self, key: str, value) -> None:
        """Thread-local scratch value passed between nested wrappers."""
        setattr(self._local, "note_" + key, value)

    def noted(self, key: str, default=None):
        return getattr(self._local, "note_" + key, default)

    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            return nullcontext(None)
        return self._span(name, op)

    @contextmanager
    def _span(self, name: str, op: str | None):
        parent = self.current()
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, name, 0.0, parent=parent.sid if parent else None,
                 op=op if op is not None else (parent.op if parent else None))
        st = self._stack()
        st.append(s)
        if self.on_enter:
            self.on_enter(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            if self.on_exit:
                self.on_exit(s, st[-1] if st else None)
            with self._lock:
                self.spans.append(s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": round(s.start, 6),
                    "end": round(s.end, 6), "parent": s.parent, "op": s.op,
                    "counts": s.counts,
                }) + "\n")


def layer_table(spans: list[Span]) -> dict[str, dict]:
    """Per span name: calls, total and self seconds, summed counts."""
    st = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "counts": {}})
        row["calls"] += 1
        row["total_s"] += s.dur
        row["self_s"] += st[s.sid]
        for k, v in s.counts.items():
            row["counts"][k] = row["counts"].get(k, 0) + v
    return out


def format_table(table: dict[str, dict]) -> str:
    lines = [f"{'span':34} {'calls':>6} {'self_s':>9} {'total_s':>9}  counts"]
    for name in sorted(table):
        r = table[name]
        counts = " ".join(f"{k}={v:.4g}" for k, v in sorted(r["counts"].items()))
        lines.append(f"{name:34} {r['calls']:6d} {r['self_s']:9.3f} {r['total_s']:9.3f}  {counts}")
    return "\n".join(lines)
