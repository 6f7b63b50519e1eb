"""Spans recorded around the benchmark's calls into each layer, plus a
reader for Spark's monitoring REST API.

A span has a name, a start, an end and the span that caused it; all spans
of one run share a trace id. Spans stay in memory and are written when the
run ends. A layer's self time is its spans' duration minus the part of
each span that its children cover.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import urllib.request
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans when enabled; every method is a cheap no-op otherwise."""

    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        # Wall time spent inside the tracer's own bookkeeping and scrapes.
        self.overhead_s = 0.0

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        """Time the block as a child of the innermost open span of this
        thread, or of ``parent`` when it was opened on another thread."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent_id = parent.span_id if parent is not None else (stack[-1] if stack else None)
        span = Span(self._new_id(), parent_id, name, time.time(), 0.0, attrs)
        stack.append(span.span_id)
        try:
            yield span
        finally:
            span.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def add(self, name: str, start: float, end: float, parent: Span | None = None, **attrs) -> Span | None:
        """Record a span measured elsewhere (e.g. a trigger reported by Spark)."""
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        if parent is None:
            stack = self._stack()
            parent_id = stack[-1] if stack else None
        else:
            parent_id = parent.span_id
        span = Span(self._new_id(), parent_id, name, start, end, attrs)
        with self._lock:
            self.spans.append(span)
        self.overhead_s += time.perf_counter() - t0
        return span

    def layer_table(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total duration and self time, in seconds."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent_id is not None:
                children[s.parent_id].append(s)
        table: dict[str, dict[str, float]] = {}
        for s in self.spans:
            row = table.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s.end - s.start
            row["self_s"] += (s.end - s.start) - _covered(s, children.get(s.span_id, []))
        return table

    def write(self, path, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {
                    "trace_id": self.trace_id,
                    "spans": [asdict(s) for s in self.spans],
                    "layers": self.layer_table(),
                    **extra,
                },
                f,
                indent=1,
            )


def _covered(span: Span, kids: list[Span]) -> float:
    """Length of the union of the children's intervals, clipped to ``span``."""
    total = 0.0
    cursor = span.start
    for k in sorted(kids, key=lambda k: k.start):
        lo, hi = max(k.start, cursor), min(k.end, span.end)
        if hi > lo:
            total += hi - lo
            cursor = hi
    return total


class RestApi:
    """Reads the live application's monitoring REST API (UI must be on)."""

    def __init__(self, spark, tracer: Tracer) -> None:
        sc = spark.sparkContext
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("Spark UI is disabled; the REST API needs it")
        port = url.rsplit(":", 1)[1]
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._tracer = tracer

    def get(self, path: str):
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(self._base + path, timeout=30) as resp:
                return json.load(resp)
        finally:
            self._tracer.overhead_s += time.perf_counter() - t0

    def sql_executions(self) -> list[dict]:
        out: list[dict] = []
        while True:
            page = self.get(f"/sql?details=true&planDescription=false&offset={len(out)}&length=200")
            out.extend(page)
            if len(page) < 200:
                return out

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def stages(self) -> list[dict]:
        return self.get("/stages?status=complete")


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_total(value: str) -> float:
    """First number of a SQL-metric string, in bytes or seconds.

    Sized and timed metrics read ``"total (min, med, max ...)\\n12.3 MiB
    (...)"``; plain counters read ``"1,234"``.
    """
    text = value.split("\n")[-1] if "\n" in value else value
    parts = text.replace(",", "").split()
    number = float(parts[0])
    unit = parts[1] if len(parts) > 1 else ""
    return number * _UNITS.get(unit, 1.0)
