"""In-memory spans around the benchmark's calls into the engine's layers.

A span records its name, start, end, parent and run id.  While a span is
open its Spark jobs run under a job group of its own, so the jobs and tasks
each layer launched are read back from Spark's status tracker after the run
(the listener bus is drained first, outside every timed region).  With
tracing off, ``span`` is a no-op context and no Spark status is read: the
end-to-end numbers are measured that way.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import List, Optional


class Span:
    def __init__(self, tracer: "Tracer", name: str, attrs: dict):
        self.tracer = tracer
        self.name = name
        self.attrs = attrs
        self.run = tracer.run_id
        self.idx = len(tracer.spans)
        self.group = f"perfbench-{self.idx}"
        self.parent: Optional[int] = None
        self.start = self.end = 0.0
        self.jobs = self.tasks = self.tasks_failed = 0

    def __enter__(self) -> "Span":
        t = self.tracer
        self.parent = t.stack[-1].idx if t.stack else None
        t.spans.append(self)
        t.stack.append(self)
        t.sc.setJobGroup(self.group, self.name)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        t = self.tracer
        t.stack.pop()
        if t.stack:
            t.sc.setJobGroup(t.stack[-1].group, t.stack[-1].name)
        else:
            t.sc.setLocalProperty("spark.jobGroup.id", None)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: List[Span] = []
        self.stack: List[Span] = []
        self.run_id = -1

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return Span(self, name, attrs)

    def run_spans(self, run_id: int) -> List[Span]:
        return [s for s in self.spans if s.run == run_id]

    def collect_counts(self, run_id: int) -> None:
        """Attach Spark job and task counts to the spans of one run."""
        # the status store is fed asynchronously by the listener bus: drain
        # it first, or the last jobs of the run may not be listed yet
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        status = self.sc.statusTracker()
        for sp in self.run_spans(run_id):
            job_ids = status.getJobIdsForGroup(sp.group)
            stages = set()
            for jid in job_ids:
                info = status.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
            sp.jobs = len(job_ids)
            for sid in stages:
                st = status.getStageInfo(sid)
                if st is not None:
                    sp.tasks += st.numCompletedTasks
                    sp.tasks_failed += st.numFailedTasks

    def children(self, sp: Span) -> List[Span]:
        return [s for s in self.spans if s.parent == sp.idx]

    def subtree(self, sp: Span) -> List[Span]:
        out = [sp]
        for child in self.children(sp):
            out.extend(self.subtree(child))
        return out

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the part its child spans cover (children of
        one span run one after another, so their durations add up)."""
        return sp.seconds - sum(c.seconds for c in self.children(sp))

    def dump(self, path: str) -> None:
        rows = [
            {
                "name": s.name,
                "run": s.run,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "self_s": self.self_seconds(s),
                "jobs": s.jobs,
                "tasks": s.tasks,
                "tasks_failed": s.tasks_failed,
                **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
