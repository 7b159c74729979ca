"""Spans around the benchmark's calls into the engine's layers.

Every call the benchmark makes into a layer runs inside ``Tracer.span``,
which records name, start, end and the enclosing span (per thread). The
workloads derive their own timings from these spans, so the untraced
run and the traced run time the same boundaries.

With tracing on, each span also tags its Spark jobs with a job group of
its own and, when it ends, reads that group's stage rollups (tasks,
executor run and CPU time, shuffle and spill bytes) from the status
store. Streaming queries tag their jobs with their run id, so
``stream_rollup`` reads them the same way. ``self_s`` is the time spent
in this bookkeeping; the spans are written as JSON when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0
        self._sc = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call into a layer. Yields the span record, which the
        caller may annotate; ``end`` is set when the block exits."""
        parent = getattr(self._local, "span", None)
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None, **attrs}
        tagged = self.enabled and self._sc is not None
        if tagged:
            t0 = time.perf_counter()
            self._sc.setJobGroup(f"perfbench-{rec['id']}", name)
            self._add_self(time.perf_counter() - t0)
        self._local.span = rec
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._local.span = parent
            if tagged:
                t0 = time.perf_counter()
                if parent is not None:
                    self._sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                rec["spark"] = self._rollup(f"perfbench-{rec['id']}")
                self._add_self(time.perf_counter() - t0)
            with self._lock:
                self.spans.append(rec)

    def record(self, name: str, start: float, end: float, **attrs) -> dict:
        """Add a span timed by the caller, under the current span."""
        parent = getattr(self._local, "span", None)
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "start": start, "end": end, **attrs}
        with self._lock:
            self.spans.append(rec)
        return rec

    def stream_rollup(self, query) -> dict[str, float]:
        """Stage rollup of a finished streaming query's jobs."""
        t0 = time.perf_counter()
        out = self._rollup(str(query.runId))
        self._add_self(time.perf_counter() - t0)
        return out

    def _add_self(self, dt: float) -> None:
        with self._lock:
            self.self_s += dt

    def _rollup(self, group: str) -> dict[str, float]:
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0)
        stage_ids = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, **{k: s[k] - t0 for k in ("start", "end", "due") if k in s}}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1, default=str)
