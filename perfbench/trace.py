"""In-memory spans around the benchmark's calls into the engine.

A span has a name, a start, an end and the span that caused it. Spans
stay in memory and are written out once, at the end of a run. A span's
self time is its duration minus the part of it its children cover.
Untraced runs use a disabled tracer, whose ``span`` does nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a finished span measured elsewhere (e.g. a streaming trigger
        from its progress record) as a child of the open span."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans),
                "parent": self._stack[-1] if self._stack else None,
                "name": name, "start": start, "end": end, **attrs})

    def total(self, name: str) -> float:
        """Summed duration of the closed spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"])

    def self_times(self) -> dict[int, float]:
        """Self time of every closed span, by span id."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {s["id"]: (s["end"] - s["start"])
                - union_length(kids.get(s["id"], []))
                for s in self.spans if s["end"]}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_s": selfs.get(s["id"])}) + "\n")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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
