"""Span tracer for the traced benchmark run.

Wraps calls into the engine's layers from outside the package: each call
becomes one span with a name, start and end time, a parent span and the
id of the micro-batch it ran in. Spark is lazy, so a wrapped call that
returns a DataFrame has its result persisted and counted inside the span;
the span then covers the layer's work rather than plan building. Each
span runs its Spark jobs under its own job group, so the status tracker
attributes jobs, stages and tasks to it.

Spans are kept in memory and written out by `Tracer.dump` when the run
ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    batch_id: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    # counters recorded at this boundary (rows in/out, hits, bytes ...)
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Collects spans; `wrap` makes a traced stand-in for a layer call.

    Spans opened in a thread that has no open span of its own (the
    engine's commit thread pool) take the open `microbatch.run_batch`
    span as parent, so concurrent commit calls nest under their batch.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self.batch_span: Span | None = None
        # DataFrames the tracer persisted; released at the end of each batch
        self.persisted: list[DataFrame] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, batch_id: int | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else self.batch_span
        if batch_id is None and parent is not None:
            batch_id = parent.batch_id
        with self._lock:
            s = Span(next(self._ids), name, parent.id if parent else None, batch_id, 0.0)
            self.spans.append(s)
        group = f"perfbench-span-{s.id}"
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, name)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            self._count_jobs(s, group)

    def _count_jobs(self, s: Span, group: str) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            s.jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    s.stages += 1
                    s.tasks += stage.numTasks

    def materialize(self, out, s: Span):
        """Persist and count a DataFrame result (or the DataFrame in a
        (DataFrame, n) result) so the span covers its computation."""
        df = out[0] if isinstance(out, tuple) else out
        if isinstance(df, DataFrame):
            df.persist()
            self.persisted.append(df)
            s.counts["rows_out"] = df.count()
        return out

    def wrap(self, name: str, fn, after=None):
        """A stand-in for `fn` that traces each call. `after(span, result,
        args, kwargs)` records extra counters in a `trace.stats` child span,
        so its Spark jobs are kept out of every layer's time and counts."""

        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = self.materialize(fn(*args, **kwargs), s)
                if after is not None:
                    with self.span("trace.stats"):
                        after(s, out, args, kwargs)
                return out

        return traced

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()

    # ----------------------------------------------------------- reports
    def self_time(self, s: Span) -> float:
        children = [(c.start, c.end) for c in self.spans if c.parent == s.id]
        return (s.end - s.start) - union_length(children)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        rows = [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(rows, fh)
