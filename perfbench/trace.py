"""In-memory spans around the engine's layer boundaries, with Spark job counts.

Spans are recorded only from benchmark code: the public phase methods of a
``Crawler`` *instance* are replaced by wrappers (so the unmodified
``crawl()``/``resume()`` call them), the catalog is a delegating
``ManifestCatalog`` subclass, and ``operators.dedup.build_bloom`` is wrapped
at module level while a tracer is installed. Each span runs under its own
Spark job group, so ``SparkContext.statusTracker()`` attributes every job,
and through its stages every task, to exactly one span.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass

from upton_spark.operators import dedup as dedup_ops
from upton_spark.sources.catalog import ManifestCatalog

# Crawler methods wrapped as spans: method name -> span name
PHASES = {
    "run_index_phase": "crawler.index",
    "build_frontier": "crawler.frontier",
    "run_fetch_rounds": "crawler.fetch",
    "resume": "crawler.resume",
}


@dataclass
class Span:
    span_id: int
    name: str
    crawl_id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0

    @property
    def group(self) -> str:
        return f"perfbench-{self.span_id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans of one process; ``crawl_id`` tags the current crawl."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self.crawl_id = 0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, self.crawl_id, parent.span_id if parent else None,
                 time.perf_counter())
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                clear_job_group(self.sc)
            self.spans.append(s)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def instrument(self, crawler) -> None:
        """Shadow the crawler's phase methods with span wrappers."""
        for method, name in PHASES.items():
            setattr(crawler, method, self.wrap(getattr(crawler, method), name))

    @contextlib.contextmanager
    def bloom_builds(self):
        """Wrap ``operators.dedup.build_bloom`` for the duration."""
        original = dedup_ops.build_bloom
        dedup_ops.build_bloom = self.wrap(original, "dedup.build_bloom")
        try:
            yield
        finally:
            dedup_ops.build_bloom = original

    def count(self, crawl_id: int) -> None:
        """Fill in jobs and tasks of a finished crawl's spans."""
        drain_listener_bus(self.sc)
        for s in self.spans:
            if s.crawl_id == crawl_id:
                s.jobs, s.tasks = count_jobs(self.sc, s.group)

    def crawl_summary(self, crawl_id: int) -> dict[str, dict[str, float]]:
        """Per span name: calls, self seconds, jobs, tasks, for one crawl.

        Self time is a span's duration minus its children's durations;
        children run inside their parent, one at a time, so they never
        overlap."""
        spans = [s for s in self.spans if s.crawl_id == crawl_id]
        child_time: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.duration
        out: dict[str, dict[str, float]] = {}
        for s in spans:
            agg = out.setdefault(s.name, {"calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0})
            agg["calls"] += 1
            agg["self_s"] += s.duration - child_time.get(s.span_id, 0.0)
            agg["jobs"] += s.jobs
            agg["tasks"] += s.tasks
        return out

    def dump(self) -> list[dict]:
        return [
            {"span_id": s.span_id, "name": s.name, "crawl_id": s.crawl_id,
             "parent": s.parent, "start": s.start, "end": s.end,
             "jobs": s.jobs, "tasks": s.tasks}
            for s in self.spans
        ]


def clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def drain_listener_bus(sc) -> None:
    """Wait until the status store has seen every finished job and stage;
    the listener bus delivers events asynchronously."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def count_jobs(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks run) of a job group, from the status tracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(jobs), tasks


class TracedCatalog(ManifestCatalog):
    """ManifestCatalog that records commits and snapshot reads as spans."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def commit(self, *args, **kwargs):
        with self.tracer.span("catalog.commit"):
            return super().commit(*args, **kwargs)

    def latest(self):
        with self.tracer.span("catalog.read"):
            return super().latest()

    def table(self, snap, name):
        with self.tracer.span("catalog.read"):
            return super().table(snap, name)
