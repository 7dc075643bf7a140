"""In-memory spans for the traced benchmark run.

Spans are recorded from the benchmark's own code, around its calls into
the program (pass, op, construct, plan, execute) and around the program
functions it wraps (cache builds, stream drains). They stay in memory
and are written once, when the run ends. This module imports no Spark
so its arithmetic is testable on its own.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    """Records nested spans; the innermost open span is the parent of
    the next one opened, so spans opened from wrapped program functions
    nest under the op phase that called them."""

    def __init__(self, clock=time.time) -> None:
        self.clock = clock
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": next(self._ids), "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": self.clock(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = self.clock()

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> dict:
        """A span measured elsewhere (a stream drain reported by the
        listener), attached to an explicit parent."""
        rec = {"id": next(self._ids), "name": name, "parent": parent,
               "start": start, "end": end, "attrs": attrs}
        self.spans.append(rec)
        return rec

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


def covered(interval: tuple[float, float],
            children: list[tuple[float, float]]) -> float:
    """Length of the part of ``interval`` that the union of
    ``children`` covers (children may overlap each other or stick out
    of the interval)."""
    lo, hi = interval
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in children):
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of that interval its
    child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered((s["start"], s["end"]), kids.get(s["id"], []))
            for s in spans}
