"""In-memory span tracer for the traced benchmark run.

A span has a name, start, end, parent and request id. Spans are opened in
the benchmark's own files around calls into ``engine/`` modules (and, for
``local_scored_arrays``, by a wrapper the traced run installs over the
engine function). Each operation runs in its own Spark job group; a span
records the ids of the jobs that started while it was open, and job, task
and failed-task counts are resolved from ``SparkContext.statusTracker()``
once the run has ended, when the status store has caught up.

Self time is a span's duration minus the part of it that its child spans
cover. The tracer also clocks its own bookkeeping (status-tracker calls and
span records). That is only part of what tracing costs an operation: the
job-group calls and the wrapper are outside it.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._rid: str | None = None
        self.bookkeeping_s = 0.0

    def _job_ids(self) -> set[int]:
        ids = set(self.tracker.getJobIdsForGroup(None))
        if self._rid is not None:
            ids.update(self.tracker.getJobIdsForGroup(self._rid))
        return ids

    @contextlib.contextmanager
    def request(self, rid: str, name: str):
        """Root span of one operation, run in its own Spark job group."""
        self._rid = rid
        self.sc.setJobGroup(rid, name)
        try:
            with self.span(name) as sp:
                yield sp
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._rid = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t = time.perf_counter()
        sp = {
            "name": name,
            "rid": self._rid,
            "parent": self._stack[-1] if self._stack else None,
            "attrs": attrs,
            "_jobs_before": self._job_ids(),
        }
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.bookkeeping_s += time.perf_counter() - t
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            sp["jobs"] = sorted(self._job_ids() - sp.pop("_jobs_before"))
            self.bookkeeping_s += time.perf_counter() - t

    def add(self, name: str, start: float, end: float, parent: dict) -> None:
        """Record a span whose interval was measured elsewhere (the build
        phases reported in stats.json)."""
        self.spans.append({
            "name": name, "rid": parent["rid"], "parent": self.spans.index(parent),
            "attrs": {}, "start": start, "end": end, "jobs": [],
        })

    def resolve(self) -> None:
        """Fill per-span task and failed-task counts and self times."""
        for sp in self.spans:
            tasks = failed = 0
            for jid in sp["jobs"]:
                job = self.tracker.getJobInfo(jid)
                for sid in (job.stageIds if job else ()):
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks + st.numFailedTasks
                        failed += st.numFailedTasks
            sp["tasks"], sp["failed_tasks"] = tasks, failed
        children: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(sp)
        for i, sp in enumerate(self.spans):
            covered, last = 0.0, sp["start"]
            for ch in sorted(children.get(i, ()), key=lambda s: s["start"]):
                lo, hi = max(ch["start"], last), min(ch["end"], sp["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            sp["self_s"] = (sp["end"] - sp["start"]) - covered

    def subtree(self, root: dict) -> list[dict]:
        idx = self.spans.index(root)
        out, frontier = [root], {idx}
        for i, sp in enumerate(self.spans):
            if sp["parent"] in frontier:
                out.append(sp)
                frontier.add(i)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)


class NullTracer:
    """Stands in for Tracer in untraced runs: every span is a no-op."""

    bookkeeping_s = 0.0

    @contextlib.contextmanager
    def request(self, rid: str, name: str):
        yield {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}
