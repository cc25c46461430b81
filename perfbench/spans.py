"""Spans recorded from outside the program, around calls into its layers.

``Tracer`` keeps spans in memory and writes them out once, at the end of a
run.  ``TimedStore`` wraps a ``stores.ParquetStore`` and ``timed_transport``
wraps a ``Transport``; both record one span per call under whatever span
is open (a tick).  With tracing off the workloads use the bare objects.
``JobStats`` counts the Spark jobs, stages and tasks of a job group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder for one thread (the benchmark's main one)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.phase = ""  # stamped on every span, to tell workload phases apart

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record ``name`` around the block; ``op`` ties the spans of one
        tick or query together (children inherit their parent's)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "phase": self.phase,
               "op": op if op is not None or parent is None else parent["op"],
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, seconds: float) -> None:
        """Attach an aggregated child of ``seconds`` to the open span, for a
        boundary crossed too often to keep one span per call."""
        if self.enabled and self._stack:
            parent = self._stack[-1]
            now = time.perf_counter()
            self.spans.append({"id": len(self.spans), "name": name,
                               "phase": self.phase, "op": parent["op"],
                               "parent": parent["id"],
                               "start": now - seconds, "end": now,
                               "aggregated": True})

    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


class TimedStore:
    """Delegating wrapper that records a span per store call."""

    METHODS = ("latest_event_time", "overlap_keys_df", "append_events",
               "unshipped_events", "upsert_cursor", "event_count")

    def __init__(self, store, tracer: Tracer) -> None:
        self.inner = store
        self._tracer = tracer
        self.paths = store.paths

    def __getattr__(self, name: str):
        attr = getattr(self.inner, name)
        if name not in self.METHODS:
            return attr

        def timed(*args, **kwargs):
            with self._tracer.span(f"store.{name}"):
                return attr(*args, **kwargs)

        return timed


def timed_transport(transport, tracer: Tracer):
    def get(url: str) -> dict:
        with tracer.span("fetch.page"):
            return transport(url)

    return get


class JobStats:
    """Jobs, stages and tasks per job group, from Spark's status tracker.

    Groups are read right after they finish, before the tracker's
    retention limit can drop their jobs."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.tracker = spark.sparkContext.statusTracker()
        self.groups: dict[str, tuple[int, int, int]] = {}

    def record(self, group: str) -> None:
        if not self.enabled:
            return
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stage = self.tracker.getStageInfo(s)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        self.groups[group] = (len(jobs), stages, tasks)
