"""Spans and scheduler counts, recorded from outside the program.

Layers are traced by wrapping their public entry points: instance methods
on the client, storage and database objects, and module attributes that
``hauser_spark.service`` calls. A span records name, start, end, parent
span and trace id (one trace per bundle or per query); spans stay in
memory until ``dump``. Jobs, stages and tasks come from
``SparkContext.statusTracker()`` with one job group per traced call.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id: str | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def traced(self, fn, name):
        """``fn`` wrapped so each call records a span; ``name`` may be a
        callable returning the span name at call time."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name() if callable(name) else name):
                return fn(*args, **kwargs)

        return wrapper

    def wrap_method(self, obj, method: str, name) -> None:
        setattr(obj, method, self.traced(getattr(obj, method), name))

    # ---- scheduler counts (statusTracker job groups) ----

    def set_job_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_job_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) the scheduler ran under ``group``. A job
        also lists the stages it skipped (with AQE, every earlier query
        stage again), so only stages that ran a task count, and only the
        tasks that ran."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for sid in stage_ids:
            st = tracker.getStageInfo(sid)
            ran = 0 if st is None else st.numCompletedTasks + st.numFailedTasks
            if ran:
                stages += 1
                tasks += ran
        return len(jobs), stages, tasks

    # ---- analysis ----

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered = 0.0
            cur_start = cur_end = None
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out.append((s["end"] - s["start"]) - covered)
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        selfs = self.self_times()
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s["name"],
                            "trace": s["trace"],
                            "parent": s["parent"],
                            "start_ms": round((s["start"] - t0) * 1000, 3),
                            "end_ms": round((s["end"] - t0) * 1000, 3),
                            "self_ms": round(selfs[i] * 1000, 3),
                        }
                    )
                    + "\n"
                )
