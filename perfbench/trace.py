"""In-memory spans around the engine's public calls.

A span records name, start, end, parent and trace id. Each span runs
its Spark jobs under its own job group, so the public ``StatusTracker``
gives the span's jobs, tasks and failed tasks. Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.spans: list[dict] = []
        self.trace_id = 0

    @contextlib.contextmanager
    def trace(self, name: str):
        """A root span that starts a new trace id (one unit of work)."""
        self.trace_id += 1
        with self.span(name) as rec:
            yield rec

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = True):
        """``spark=False`` for calls that launch no Spark job: no job
        group is set, so the span costs no JVM round trip."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": next(self._ids), "name": name, "trace": self.trace_id,
               "parent": parent["id"] if parent else None,
               "group": None, "attrs": {}}
        if spark:
            rec["group"] = f"perfbench-span-{rec['id']}"
            self._sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark:
                outer = next((r for r in reversed(self._stack) if r["group"]), None)
                if outer is not None:
                    self._sc.setJobGroup(outer["group"], outer["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` by a spanned call until ``restore``;
        ``on_result(rec, result)`` may copy counts onto the span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, result)
                return result

        self._patched.append((module, attr, fn))
        setattr(module, attr, spanned)

    def restore(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def resolve_spark_counts(self) -> None:
        """Attach spark.jobs / spark.tasks / spark.failed_tasks to every
        span from the status store (run after the jobs have ended)."""
        tracker = self._sc.statusTracker()
        for rec in self.spans:
            if "spark.jobs" in rec:
                continue
            jobs = tracker.getJobIdsForGroup(rec["group"]) if rec["group"] else []
            tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numCompletedTasks
                        failed += stage.numFailedTasks
            rec["spark.jobs"], rec["spark.tasks"], rec["spark.failed_tasks"] = len(jobs), tasks, failed

    # -- derived numbers ---------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover."""
        child = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] = child.get(rec["parent"], 0.0) + rec["end"] - rec["start"]
        return {rec["id"]: rec["end"] - rec["start"] - child.get(rec["id"], 0.0) for rec in self.spans}

    def by_trace(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for rec in self.spans:
            out.setdefault(rec["trace"], []).append(rec)
        return out

    def dump(self, path: str, extra: dict) -> None:
        self_t = self.self_times()
        spans = [{k: v for k, v in rec.items() if k != "group"} | {"self": self_t[rec["id"]]}
                 for rec in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, default=str)
