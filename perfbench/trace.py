"""Spans around the benchmark's calls into the program's layers.

A span records name, start, end, parent span and run id, plus the
Spark jobs and tasks it launched: each span sets its own job group
while it is open, and on close reads the group's jobs and their
completed tasks from ``statusTracker``.  Spans stay in memory and are
written out as JSON lines when the run ends.  A disabled tracer
records nothing and touches no Spark state, so untraced runs pay
nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self._sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span; ``attrs`` (JSON values) are stored with it.
        Yields the span dict, so a caller can add results to it."""
        if not self.enabled:
            yield {}
            return
        span_id = f"{self.run_id}:{len(self.spans)}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": span_id, "parent": parent, "run": self.run_id, "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(span_id)
        self._sc.setJobGroup(span_id, name, interruptOnCancel=False)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty("spark.jobGroup.id", parent)
            rec["jobs"], rec["tasks"] = self._jobs_and_tasks(span_id)

    def _jobs_and_tasks(self, group: str) -> tuple[int, int]:
        tracker = self._sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in job_ids:
            job = tracker.getJobInfo(jid)
            for sid in job.stageIds if job is not None else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage is not None else 0
        return len(job_ids), tasks

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, ensure_ascii=False) + "\n")

