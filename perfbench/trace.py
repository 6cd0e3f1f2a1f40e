"""Spans around the program's public functions, and Spark counters per span.

The tracer wraps module attributes from the outside: each patched function
records a span (name, start, end, parent, operation id, thread) and tags the
Spark jobs it submits with ``sc.addJobTag("pb-<span id>")``. Job tags are
thread-local local properties, so jobs submitted from the export's table
thread pool land on the span open in that thread. After each operation the
tracer drains Spark's listener bus and reads the new jobs and their stages
from the status store, attributing each job to the innermost span it carries.

Spans and job records stay in memory and are written as JSON at the end.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time

#: stage fields read from the status store: metric name -> (getter, scale)
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "input_rows": ("inputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}
#: counters summed per job, with their units (spill = memory + disk bytes)
JOB_COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "input_bytes": "B",
    "input_rows": "count",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "output_bytes": "B",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._op: str | None = None
        self._next_job = self._first_unseen_job()
        self._seen_stages: set[int] = set()

    def _now(self) -> float:
        return time.perf_counter() - self.t0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._root
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": parent,
                "op": self._op,
                "thread": threading.current_thread().name,
                **attrs,
            }
            self.spans.append(rec)
        tag = f"pb-{sid}"
        self.sc.addJobTag(tag)
        stack.append(sid)
        rec["start"] = self._now()
        try:
            yield rec
        finally:
            rec["end"] = self._now()
            stack.pop()
            self.sc.removeJobTag(tag)

    @contextlib.contextmanager
    def operation(self, op_id: str, name: str):
        """Root span of one benchmark operation; afterwards the operation's
        Spark jobs are read from the status store."""
        self._op = op_id
        try:
            with self.span(name) as rec:
                self._root = rec["id"]
                yield rec
        finally:
            self._root = None
            self._op = None
            self.collect_jobs()

    def wrap(self, name: str, fn, size=None):
        """``fn`` inside a span; with ``size`` (a memo's ``__len__``) the
        span records whether the call grew the memo."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                before = size() if size is not None else 0
                out = fn(*args, **kwargs)
                if size is not None:
                    rec["fit"] = size() > before
                return out

        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """Replace ``module.attr`` with a traced wrapper for each
        ``(module, attr, span name[, size])``; restore on exit."""
        saved = []
        try:
            for module, attr, name, *rest in targets:
                original = getattr(module, attr)
                saved.append((module, attr, original))
                setattr(module, attr, self.wrap(name, original, *rest))
            yield self
        finally:
            for module, attr, original in reversed(saved):
                setattr(module, attr, original)

    # -- Spark status store -------------------------------------------------

    def _first_unseen_job(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1

    def collect_jobs(self) -> None:
        self._bus.waitUntilEmpty()
        while True:
            try:
                job = self._store.job(self._next_job)
            except Exception:  # py4j: NoSuchElementException -> no such job yet
                return
            self._next_job += 1
            self.jobs.append(self._job_record(job))

    def _job_record(self, job) -> dict:
        tags = job.jobTags()
        span_ids = [
            int(t[3:])
            for t in (tags.apply(i) for i in range(tags.size()))
            if t.startswith("pb-")
        ]
        rec = {"job": job.jobId(), "span": max(span_ids, default=None)}
        rec.update(dict.fromkeys(JOB_COUNTERS, 0))
        rec["jobs"] = 1
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in self._seen_stages:
                continue
            stage = self._store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            self._seen_stages.add(sid)
            rec["stages"] += 1
            for key, (getter, scale) in STAGE_FIELDS.items():
                rec[key] += getattr(stage, getter)() * scale
            rec["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
        return rec

    # -- summaries ----------------------------------------------------------

    def ancestors(self, sid: int | None) -> list[dict]:
        """The span and all spans above it, innermost first."""
        out = []
        while sid is not None:
            span = self.spans[sid]
            out.append(span)
            sid = span["parent"]
        return out

    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Per span name: duration minus the part covered by child spans."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out
