"""In-memory spans for the traced run.

A span is one timed interval at a layer boundary: ``run > setup{...} >
pass > query > {operators.build, collect}``. Spans of one query share
its query id; each keeps the id of the span that caused it. Nothing is
written until ``Tracer.dump`` at exit, so tracing adds no I/O to the
measured passes.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Duration of ``[start, end]`` not covered by any child interval.

    Children are clipped to the parent and may overlap each other; the
    covered part is the length of their union."""
    covered, reach = 0.0, start
    for c0, c1 in sorted(children):
        c0, c1 = max(c0, reach), min(c1, end)
        if c1 > c0:
            covered += c1 - c0
            reach = c1
    return (end - start) - covered


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, qid: str | None = None, **attrs):
        """Record a span around the body; yields its attribute dict so
        the caller can attach counts measured inside it."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "qid": qid,
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def containing(self, t: float, names: tuple[str, ...]) -> dict | None:
        """The innermost span named in ``names`` whose interval holds ``t``."""
        best = None
        for s in self.spans:
            if s["name"] in names and s["end"] is not None and s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def with_self_times(self) -> list[dict]:
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return [
            {**s, "self_s": self_time(s["start"], s["end"], kids.get(s["id"], []))}
            for s in self.spans
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.with_self_times(), f, indent=1, default=str)
