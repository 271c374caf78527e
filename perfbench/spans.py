"""Spans and Spark job accounting, kept in the benchmark's own files.

A span is one call into the engine: name, start, end, parent span and the
request (round or pass) it belongs to. When tracing is on, each leaf span
runs under its own Spark job group, and on exit the tracer reads from the
outside what that call made Spark do: jobs, executed stages, tasks and
shuffle write bytes (``statusTracker()`` plus the JVM status store, so the
Spark UI is not needed). Spans stay in memory and are written out once, at
the end of the run.

With tracing off, ``span`` only yields: no job group, no status reads.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

SPARK_COUNTS = ("jobs", "stages", "tasks", "shuffle_write_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent reading Spark status, not in the engine
        self._stack: list[int] = []
        self._request: str | None = None

    @contextmanager
    def request(self, rid: str):
        """Groups the spans of one round or pass under one request id."""
        prev, self._request = self._request, rid
        with self.span(rid):
            try:
                yield
            finally:
                self._request = prev

    @contextmanager
    def span(self, name: str, *, spark_counts: bool = False):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, parent=parent, request=self._request)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        group = None
        if spark_counts:
            group = f"perfbench-{len(self.spans)}"
            self.sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                sp.counts = self._group_counts(group)
                self.bookkeeping_s += time.perf_counter() - sp.end

    def _group_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = shuffle = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage never ran
                    continue
                stages += 1
                tasks += st.numTasks()
                shuffle += st.shuffleWriteBytes()
        return dict(zip(SPARK_COUNTS, (len(jobs), stages, tasks, shuffle)))

    def layer_metrics(
        self, layers: dict[str, tuple[str, bool]], skip: set, count_requests: set
    ) -> dict[str, float]:
        """Per-layer figures from the spans named in ``layers`` (span name ->
        (time unit "s" or "us", whether it carries Spark counts)): the
        median call time over every span outside the ``skip`` requests, and
        the mean of each Spark count per call over the spans in
        ``count_requests`` only. A run makes the calls of those requests
        whatever its length, so the counts repeat exactly between runs of
        the same code and seed. A layer the run never called reports 0."""
        out: dict[str, float] = {}
        for name, (unit, spark_counts) in layers.items():
            sps = [s for s in self.spans if s.name == name and s.request not in skip]
            scale = 1e6 if unit == "us" else 1.0
            out[f"{name}_{unit}"] = statistics.median(s.seconds * scale for s in sps) if sps else 0.0
            counted = [s for s in sps if s.request in count_requests]
            for c in SPARK_COUNTS if spark_counts else ():
                vals = [s.counts.get(c, 0) for s in counted]
                out[f"{name}.{c}"] = sum(vals) / len(vals) if vals else 0.0
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
