"""Spans recorded from outside the package, and Spark's status store.

``Tracer`` keeps spans in memory (name, start, end, parent, trace id,
attributes; wall-clock seconds so they line up with Spark's job and stage
timestamps) and writes them out once, at the end. It records spans around
calls the benchmark makes, and around package functions it wraps by
replacing the attribute the caller looks up; ``restore`` puts them back.

``StatusStore`` reads jobs and stages from ``SparkContext.statusStore()``
(available with the UI disabled) and attributes them to time windows:
a job belongs to the window its submission time falls in, a stage to the
job that ran it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "trace": parent["trace"] if parent else sid,
               "start": time.time(), "end": None, "attrs": attrs}
        stack.append(rec)
        try:
            yield attrs
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, annotate=None) -> None:
        """Replace ``owner.attr`` with a version that records a span per
        call. ``annotate(args, kwargs, result)`` may return attributes to
        attach, computed after the call returns (inside the span)."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as attrs:
                out = fn(*args, **kwargs)
                if annotate is not None:
                    attrs.update(annotate(args, kwargs, out))
                return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


class StatusStore:
    """Jobs and stages of the running application, read in one JSON
    round trip each through the JVM's Jackson (Scala module)."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}

    def json(self, java_obj):
        """A JVM object (status-store record or collection) as plain data."""
        return json.loads(self._mapper.writeValueAsString(java_obj))

    def refresh(self) -> "StatusStore":
        st = self._store
        self.jobs = self.json(st.jobsList(None))
        quantiles = getattr(st, "stageList$default$4")()
        stages = self.json(st.stageList(None, False, False, quantiles, None))
        # one entry per stage: the last attempt that ran
        self.stages = {}
        for s in sorted(stages, key=lambda s: s["attemptId"]):
            if s["status"] != "SKIPPED":
                self.stages[s["stageId"]] = s
        return self

    def window(self, start_s: float, end_s: float) -> dict:
        """Counters of the jobs submitted in [start_s, end_s] (wall
        seconds) and of the stages those jobs ran."""
        lo, hi = start_s * 1000.0, end_s * 1000.0
        jobs = [j for j in self.jobs
                if j.get("submissionTime") is not None and lo <= j["submissionTime"] <= hi]
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [self.stages[s] for s in stage_ids if s in self.stages]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "executor_run_ms": sum(s["executorRunTime"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        }
