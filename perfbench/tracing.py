"""Tracing for the per-layer run: spans recorded in memory around calls into
the package, and counts read from Spark's always-on status store.

Spans are recorded from the benchmark's own files only; the package is not
modified. A span is ``(id, name, start, end, parent, run)``; spans of one
run share the run id. They are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

MB = 1024 * 1024


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span = {"id": len(self.spans), "name": name, "start": time.perf_counter(), "end": None,
                "parent": self._stack[-1] if self._stack else None, "run": self.run_id}
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_seconds(self, name: str) -> float:
        """Total self time of the spans called ``name``: each span's duration
        minus that of its direct children."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        children = sum(s["end"] - s["start"] for s in self.spans if s["parent"] in ids)
        return self.seconds(name) - children

    @contextlib.contextmanager
    def wrapped(self, module, attr: str, name: str):
        """Record a span named ``name`` around every call of ``module.attr``
        while the context is open."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, original)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobCounts:
    """Job, stage and task counts and executor metrics per job group, read
    from the status store that Spark keeps with the UI disabled."""

    FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb")

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def label(self, group: str) -> None:
        """Label the jobs this thread starts from now on."""
        self._sc.setJobGroup(group, group, False)

    def read(self, *groups: str) -> dict[str, float]:
        # job-end events reach the store through the listener bus
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out: dict[str, float] = defaultdict(float)
        seen: set[int] = set()
        for group in groups:
            for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
                out["jobs"] += 1
                stage_ids = store.job(job_id).stageIds()
                for i in range(stage_ids.size()):
                    stage_id = stage_ids.apply(i)
                    if stage_id in seen:
                        continue  # a shuffle stage listed by a later job too
                    seen.add(stage_id)
                    stage = store.lastStageAttempt(stage_id)
                    if stage.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    out["stages"] += 1
                    out["tasks"] += stage.numTasks()
                    out["executor_run_s"] += stage.executorRunTime() / 1e3
                    out["executor_cpu_s"] += stage.executorCpuTime() / 1e9
                    out["shuffle_read_mb"] += stage.shuffleReadBytes() / MB
                    out["shuffle_write_mb"] += stage.shuffleWriteBytes() / MB
                    out["spill_mb"] += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / MB
        return {k: out[k] for k in self.FIELDS}
