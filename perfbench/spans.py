"""In-memory span recorder for the traced benchmark run.

A span is recorded around each call the benchmark makes into a layer of
the engine: name, start, end, the enclosing span and the operation id that
every span of one benchmark operation shares. Spans stay in memory and are
written once, when the run ends. With tracing off, `span` records nothing.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[tuple[int, int]] = []   # (span id, op id)
        self._next_id = 1
        self._next_op = 1

    @contextmanager
    def span(self, name: str, root: bool = False):
        """Record `name` around the body. `root=True` opens a new operation;
        nested spans inherit the enclosing operation id."""
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1][0] if self._stack else None
        if root or not self._stack:
            op = self._next_op
            self._next_op += 1
        else:
            op = self._stack[-1][1]
        self._stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "op": op, "start": start, "end": end})

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part its
        direct children cover (children never overlap: calls are
        sequential)."""
        child_cover: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child_cover[s["id"]]
        return dict(out)

    def ledger(self, root_name: str) -> dict:
        """Account the wall time of every `root_name` span: self time per
        child layer, with the root's own self time reported as `other`."""
        roots = {s["id"] for s in self.spans if s["name"] == root_name}
        by_id = {s["id"]: s for s in self.spans}

        def under_root(s):
            while s["parent"] is not None:
                if s["parent"] in roots:
                    return True
                s = by_id[s["parent"]]
            return False

        sub = Tracer(True)
        sub.spans = [s for s in self.spans
                     if s["id"] in roots or under_root(s)]
        st = sub.self_times()
        wall = sum(by_id[r]["end"] - by_id[r]["start"] for r in roots)
        other = st.pop(root_name, 0.0)
        return {"rounds": len(roots), "wall_s": wall, "other_s": other,
                "self_s": dict(sorted(st.items()))}


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of recording one span, to state tracing overhead."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n
