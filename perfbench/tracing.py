"""Spans and per-round counts, kept in memory and written once at the end.

Spans are recorded by the benchmark around its calls into osmospark; the
engine's own phase timers (``visit_meta``) arrive as durations only, so
phase spans are laid back to back ending at the round boundary, which is
where the engine's round loop runs them.
"""

from __future__ import annotations

import json
import os

from session import now


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.rounds: list[dict] = []
        self.t0 = now()

    def span(self, name, start, end, parent=None, op=None, **attrs) -> int:
        if not self.enabled:
            return -1
        self.spans.append({"id": len(self.spans), "name": name,
                           "start": start - self.t0, "end": end - self.t0,
                           "parent": parent, "op": op, **attrs})
        return len(self.spans) - 1

    def timed(self, name, fn, parent=None, op=None):
        """Run ``fn`` under a span; returns (result, seconds)."""
        t = now()
        out = fn()
        end = now()
        self.span(name, t, end, parent, op)
        return out, end - t

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "rounds": self.rounds, **extra},
                      f, indent=1)


class OpHooks:
    """Round boundaries of one operation, from the engine's
    ``on_round_end`` callback. When tracing, each round also gets its own
    Spark job group, so jobs and tasks can be counted per round."""

    def __init__(self, sc, tracer: Tracer, op_id: str):
        self.sc = sc
        self.tracer = tracer
        self.op_id = op_id
        self.bounds: list[float] = []
        self.groups: list[str] = []
        self.read_s = 0.0

    def _group(self, label: str) -> None:
        if self.tracer.enabled:
            g = f"{self.op_id}/{label}"
            self.groups.append(g)
            self.sc.setJobGroup(g, g)

    def start(self) -> None:
        self.t_start = now()
        self._group("r0")

    def round_end(self, meta: dict) -> None:
        self.bounds.append(now())
        self._group(f"r{len(self.bounds)}")

    def paused(self, state, k: int) -> None:
        """Between the halves of a paused crawl: time the resume's state
        reads (materialised) when tracing."""
        if not self.tracer.enabled:
            return
        t = now()
        seen = state.read_all("seen")
        if seen is not None:
            seen.count()
        state.read_round("frontier", k).count()
        self.read_s = now() - t
        self.tracer.span("tableio.read", t, t + self.read_s,
                         op=self.op_id)

    def finish(self) -> None:
        self.t_end = now()
        if self.tracer.enabled:
            self.sc.setJobGroup(f"{self.op_id}/idle", "idle")

    @property
    def wall(self) -> float:
        return self.t_end - self.t_start

    def round_latencies(self) -> list[float]:
        edges = [self.t_start, *self.bounds]
        return [b - a for a, b in zip(edges, edges[1:])]

    def record(self, res, workload: str) -> dict:
        """Spans for this op (op, rounds, phases) and its per-op numbers."""
        tr = self.tracer
        op_span = tr.span(f"op:{workload}", self.t_start, self.t_end,
                          op=self.op_id)
        edges = [self.t_start, *self.bounds]
        for k, m in enumerate(res.meta):
            if k + 1 >= len(edges):
                break
            r0, r1 = edges[k], edges[k + 1]
            rs = tr.span(f"round {m['round']}", r0, r1, op_span,
                         self.op_id, admitted=m["admitted"])
            t = r1
            for name in ("commit", "extract", "seen_update", "dedup_admit"):
                d = m["phases"].get(name, 0.0)
                tr.span(f"engine.{name}", t - d, t, rs, self.op_id)
                t -= d
        if self.bounds:
            tr.span("tail", self.bounds[-1], self.t_end, op_span, self.op_id)
        return {"wall": self.wall, "rounds": self.round_latencies()}


def job_counts(sc, groups: list[str]) -> list[tuple[int, int]]:
    """(jobs, tasks run) per job group, from the status tracker."""
    st = sc.statusTracker()
    out = []
    for g in groups:
        jobs = st.getJobIdsForGroup(g)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info is not None else []):
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numCompletedTasks
        out.append((len(jobs), tasks))
    return out
