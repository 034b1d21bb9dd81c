"""Spans and Spark-side counts, recorded from outside the program.

A span records name, start, end, its parent span and the request it
belongs to. Spans live in memory and are written out once, at the end of
a run. The request id doubles as the Spark job group, so the jobs, stages
and tasks of one request are read back from ``SparkContext.statusTracker``
and the application status store after the run.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. When disabled every call is a no-op, so the
    untraced run does no tracing work at all."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.groups: dict[str, str] = {}  # job group -> layer it was set for
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def active(self, name: str) -> bool:
        """Whether a span called ``name`` is open in this thread."""
        return any(s["name"] == name for s in self._stack())

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            **attrs,
        }
        stack.append(rec)
        rec["start"] = time.perf_counter()
        own = rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += own + (time.perf_counter() - rec["end"])

    @contextmanager
    def request(self, sc, name: str, layer: str, **attrs):
        """A top-level span whose id is also the Spark job group of every
        job submitted from this thread inside it."""
        if not self.enabled:
            yield None
            return
        group = f"{name}-{next(self._ids)}"
        with self._lock:
            self.groups[group] = layer
        sc.setJobGroup(group, name)
        try:
            with self.span(name, request=group, **attrs) as rec:
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total self time, i.e. each span's duration minus the
    part of its interval covered by its children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, last = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, last), min(b, s["end"])
            if b > a:
                covered += b - a
                last = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def group_counts(sc, groups) -> dict[str, dict]:
    """Jobs, tasks, failed tasks, executor busy time and scheduler wait
    per job group. Busy time and wait come from the status store, which
    Spark keeps with ``spark.ui.enabled=false``; wait is the time from a
    stage's submission to its first task launch."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {}
    for g in groups:
        jobs = tracker.getJobIdsForGroup(g)
        c = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
             "busy_s": 0.0, "wait_s": 0.0}
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage dropped from the store
                    continue
                done = sd.numCompleteTasks()
                if done == 0 and sd.numFailedTasks() == 0:
                    continue  # skipped stage (shuffle output reused)
                c["stages"] += 1
                c["tasks"] += done
                c["failed_tasks"] += sd.numFailedTasks()
                c["busy_s"] += sd.executorRunTime() / 1000.0
                sub, first = sd.submissionTime(), sd.firstTaskLaunchedTime()
                if sub.isDefined() and first.isDefined():
                    c["wait_s"] += (first.get().getTime() - sub.get().getTime()) / 1000.0
        out[g] = c
    return out
