"""In-memory spans and Spark job counts, recorded around calls into the
engine from the benchmark's own code.

A span has a name, start, end, parent span and operation id. Spans stay
in memory and are written out when the run ends. With tracing off,
``Tracer.span`` only yields and ``Tracer.op`` sets no job group, so the
untraced run times the same calls with nothing wrapped around them.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.jobs: dict[str, list[int]] = defaultdict(list)
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._op = None
        self._n_ops = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op, "start": 0.0, "end": 0.0}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t_in
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, kind: str):
        """One operation of the workload: a span plus, when traced, a
        Spark job group so its jobs can be counted afterwards."""
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        self._n_ops += 1
        op_id = f"{kind}-{self._n_ops:05d}"
        self._op = op_id
        self.sc.setJobGroup(op_id, kind)
        self.bookkeeping_s += time.perf_counter() - t_in
        try:
            with self.span(kind):
                yield
        finally:
            t_out = time.perf_counter()
            self.jobs[kind].append(
                len(self.sc.statusTracker().getJobIdsForGroup(op_id)))
            self.sc.setJobGroup("perfbench-idle", "idle")
            self._op = None
            self.bookkeeping_s += time.perf_counter() - t_out

    def self_times(self, root: int | None = None) -> dict[str, float]:
        """Self time per span name, over ``root``'s subtree (all spans
        when None): duration minus the union of direct children."""
        kids: dict[int | None, list[dict]] = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)

        def covered(children: list[dict]) -> float:
            total, end = 0.0, float("-inf")
            for c in sorted(children, key=lambda c: c["start"]):
                lo = max(c["start"], end)
                if c["end"] > lo:
                    total += c["end"] - lo
                end = max(end, c["end"])
            return total

        todo = ([self.spans[root]] if root is not None
                else list(kids[None]))
        while todo:
            s = todo.pop()
            ch = kids[s["id"]]
            out[s["name"]] += (s["end"] - s["start"]) - covered(ch)
            todo.extend(ch)
        return dict(out)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump({"spans": [{**s, "start": s["start"] - t0,
                                  "end": s["end"] - t0}
                                 for s in self.spans],
                       "jobs": self.jobs}, f)
