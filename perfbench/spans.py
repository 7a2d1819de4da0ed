"""Spans around calls into the package's layers, recorded from the
benchmark's own code (nothing is traced inside the package).

A span is ``{name, start, end, parent, run_id}`` plus the Spark jobs,
stages and tasks that ran while it was the innermost open span, and
those tasks' executor run and CPU time. Each span runs in its own Spark
job group, so its jobs are read back from
``SparkContext.statusTracker()`` and its stages' task times from the
application status store. Spans stay in memory and are written
out once, at exit.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
import uuid


class Tracer:
    def __init__(self, spark, run_id: str | None = None):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    def _group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"pb-{self.run_id}-{sid}",
            **attrs,
        }
        self._stack.append(s)
        self._group(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            s.update(self._jobs(s["group"]))
            self.spans.append(s)

    def _jobs(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = run_ms = cpu_ns = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info is not None else []:
                sinfo = st.getStageInfo(sid)
                # a stage AQE reuses shows up in later jobs as skipped
                if sinfo is not None and sinfo.numCompletedTasks > 0:
                    stages += 1
                    tasks += sinfo.numCompletedTasks
                    data = self._store.lastStageAttempt(sid)
                    run_ms += data.executorRunTime()
                    cpu_ns += data.executorCpuTime()
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "task_s": run_ms / 1e3,
            "task_cpu_s": cpu_ns / 1e9,
        }

    # -- derived views -----------------------------------------------------
    def _children(self, span: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        iv = sorted((c["start"], c["end"]) for c in self._children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def count(self, span: dict, field: str) -> float:
        """A recorded count or task time (jobs, stages, tasks, task_s,
        task_cpu_s) of a span and all of its descendants."""
        return span[field] + sum(self.count(c, field) for c in self._children(span))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                row = {k: v for k, v in s.items() if k != "group"}
                row["self_s"] = self.self_time(s)
                f.write(json.dumps(row) + "\n")
