"""Span recorder for the benchmark's own calls into the program.

A span is (id, parent, name, start, end) in epoch seconds.  Spans are kept
in memory and written into the run record at the end.  While a span is
open, its id is the Spark job description of the current thread, so the
stages that Spark runs for it can be folded back under it from the event
log (``eventlog.fold``).  The description is cleared when the span closes:
it is a sticky thread-local property, and a later untagged job would
otherwise inherit the label.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = {"id": len(self.spans), "parent": self._stack[-1]["id"]
             if self._stack else None, "name": name, "start": time.time(),
             "end": None, "attrs": attrs}
        self.spans.append(s)
        self._stack.append(s)
        self._label(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def _label(self, s: dict | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.job.description",
                                 job_label(s) if s else None)

    def duration(self, s: dict) -> float:
        return s["end"] - s["start"]


def job_label(s: dict) -> str:
    return f"span:{s['id']}:{s['name']}"


def span_id_of(label: str | None) -> int | None:
    if not label or not label.startswith("span:"):
        return None
    return int(label.split(":", 2)[1])


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict], stages: list[dict]) -> dict[int, float]:
    """Self time per span in seconds: its duration minus the part of it that
    child spans and the Spark stages folded under it cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for st in stages:
        if st.get("span") is not None:
            kids.setdefault(st["span"], []).append(
                (st["submit_ms"] / 1e3, st["complete_ms"] / 1e3))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}
