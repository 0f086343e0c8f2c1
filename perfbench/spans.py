"""Spans around the benchmark's calls into the engine.

A span records its name, parent, start and end. With tracing on, every
leaf span runs its Spark work under a job group of its own; when the
span closes, the jobs of that group are read back through
``sc.statusTracker()`` and each job's stages through the application
status store (both work with ``spark.ui.enabled=false``). Spans are kept
in memory and written out by :meth:`Tracer.dump` when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """Collects spans for one benchmark process.

    ``enabled=False`` records only start/end times (the untraced mode the
    end-to-end metrics come from); ``enabled=True`` adds the Spark job and
    stage statistics of every leaf span."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, leaf: bool = False):
        span = {
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
        }
        group = f"perfbench-{span['id']}" if self.enabled and leaf else None
        if group:
            self.sc.setJobGroup(group, name)
        self._stack.append(span)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                span["spark"] = self._group_stats(group)
            self.spans.append(span)

    def _group_stats(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        # the status store is fed by the asynchronous listener bus: wait
        # for it so the jobs this span just ran are all recorded
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        stats = dict.fromkeys(
            ("jobs", "failed_jobs", "stages", "stages_skipped", "tasks",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
             "executor_run_s"), 0)
        seen: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            stats["jobs"] += 1
            if info is None:
                continue
            if info.status == "FAILED":
                stats["failed_jobs"] += 1
            for stage_id in info.stageIds:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 — evicted or never run
                    continue
                if str(st.status()) == "SKIPPED":
                    stats["stages_skipped"] += 1
                    continue
                stats["stages"] += 1
                stats["tasks"] += st.numTasks()
                stats["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                stats["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                stats["spill_mb"] += st.memoryBytesSpilled() / MB
                stats["executor_run_s"] += st.executorRunTime() / 1000.0
        return stats

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def spark_totals(self, span: dict) -> dict:
        """Sum of the Spark statistics of every leaf span under ``span``."""
        totals: dict = {}
        stack = [span]
        while stack:
            s = stack.pop()
            for k, v in s.get("spark", {}).items():
                totals[k] = totals.get(k, 0) + v
            stack.extend(self.children(s))
        return totals

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def duration(span: dict) -> float:
    return span["end"] - span["start"]
