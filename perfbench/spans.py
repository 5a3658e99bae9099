"""Span recording around calls into the engine's layers.

A span is one timed call into a layer's public function: its name is
``<layer>.<stage>`` (``engine.verdicts``, ``drift.score``), and it records
start, end, parent span and op id. While tracing is on, every span also
runs under its own Spark job group, so the jobs, tasks and failed tasks
it launched can be read back from the status tracker after the run.

With tracing off, :meth:`Tracer.span` still yields a record (counts set
on it are kept for the correctness checks) but records no span and sets
no job group, so an untraced op does exactly the Spark work a traced one
does.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    op_id: int
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; :meth:`resolve_jobs` and :meth:`dump`
    run once, after the measured loop."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self.op_id = -1

    @contextmanager
    def span(self, name: str):
        rec = Span(self._next_id, name, None, self.op_id, 0.0)
        if not self.enabled:
            yield rec
            return
        self._next_id += 1
        rec.parent = self._stack[-1].span_id if self._stack else None
        self.sc.setJobGroup(self._group(rec), name)
        self._stack.append(rec)
        rec.start = time.perf_counter()
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._group(self._stack[-1]), self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    @staticmethod
    def _group(rec: Span) -> str:
        return f"perfbench-{rec.span_id}"

    def resolve_jobs(self) -> None:
        """Fill each span's job, task and failed-task counts from the
        status tracker (the listener bus is asynchronous, so this runs
        after the loop, not when the span closes)."""
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            for job_id in tracker.getJobIdsForGroup(self._group(rec)):
                job = tracker.getJobInfo(job_id)
                if job is None:
                    continue
                rec.jobs += 1
                for stage_id in job.stageIds:
                    stage = tracker.getStageInfo(stage_id)
                    if stage is not None:
                        rec.tasks += stage.numCompletedTasks
                        rec.tasks_failed += stage.numFailedTasks

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span's duration minus the part of it
        its child spans cover."""
        children: dict[int, list[Span]] = {}
        for rec in self.spans:
            if rec.parent is not None:
                children.setdefault(rec.parent, []).append(rec)
        out: dict[str, float] = {}
        for rec in self.spans:
            covered = 0.0
            cur_end = rec.start
            for c in sorted(children.get(rec.span_id, []), key=lambda s: s.start):
                lo, hi = max(c.start, cur_end), min(c.end, rec.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[rec.layer] = out.get(rec.layer, 0.0) + rec.duration - covered
        return out

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines, times relative to the first."""
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "span_id": s.span_id,
                            "name": s.name,
                            "parent": s.parent,
                            "op_id": s.op_id,
                            "start_s": s.start - t0,
                            "end_s": s.end - t0,
                            "counts": s.counts,
                            "jobs": s.jobs,
                            "tasks": s.tasks,
                            "tasks_failed": s.tasks_failed,
                        }
                    )
                    + "\n"
                )
