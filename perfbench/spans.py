"""Spans around calls into the engine, with the Spark jobs each one launched.

Every call the benchmark makes into the engine runs inside an ``op`` span
for one layer. The span has two phases:

- ``construct``: the public call itself, including any eager jobs it runs;
- ``execute``: the action that consumes the call's result.

A phase owns every job submitted while it runs: the ids between the DAG
scheduler's next job id at its start and at its end. The benchmark is the
only client, so nothing else submits jobs; counting by job group instead
would miss broadcast-exchange jobs, which Spark runs under a group of its
own.

Untraced, a span records its wall time and its job ids (two reads of the
next job id per phase). Traced, ``collect`` later
reads each job's submission/completion time and its stages' task counts,
executor run time, shuffle writes and spill from Spark's status store.
Collection runs after the timed iteration, and its own cost is reported as
the tracing overhead.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Per-layer fields reported for every layer span (see BENCHMARK.json).
FIELDS = (
    "wall_s", "construct_s", "execute_s", "jobs", "stages", "tasks",
    "executor_busy_s", "driver_gap_s", "shuffle_write_mb", "spill_mb",
)
MB = 1024.0 * 1024.0


class Span:
    def __init__(self, layer: str, name: str, parent: str | None):
        self.layer = layer
        self.name = name
        self.parent = parent
        self.start = self.end = 0.0  # epoch seconds (comparable to JVM times)
        self.phase_s = {"construct": 0.0, "execute": 0.0}
        self.jobs: dict[str, list[int]] = {"construct": [], "execute": []}
        self.stats: dict[str, float] = {}

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def job_ids(self) -> list[int]:
        return self.jobs["construct"] + self.jobs["execute"]


class Tracer:
    """Records spans for one process; ``spans`` holds them in order."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._dag = sc._jsc.sc().dagScheduler()
        self._parent: str | None = None

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    @contextmanager
    def root(self, name: str):
        """Groups the op spans of one iteration (their ``parent``)."""
        self._parent = name
        try:
            yield
        finally:
            self._parent = None

    @contextmanager
    def op(self, layer: str, name: str):
        """One call into ``layer``; ``name`` is the user-facing operation
        (``query_batch``, ``append``, ...) whose timing the report lists."""
        span = Span(layer, name, self._parent)
        span.start = time.time()
        try:
            yield _Phases(self, span)
        finally:
            span.end = time.time()
            self.spans.append(span)

    def jobs_total(self, spans: list[Span]) -> int:
        return sum(len(s.job_ids()) for s in spans)

    def collect(self, spans: list[Span]) -> float:
        """Fill ``stats`` of each span from the status store; returns the
        seconds spent doing so (the tracing overhead)."""
        t0 = time.perf_counter()
        store = self.sc._jsc.sc().statusStore()
        for span in spans:
            intervals, stage_ids = [], set()
            for jid in span.job_ids():
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
                it = job.stageIds().iterator()
                while it.hasNext():
                    stage_ids.add(int(it.next()))
            st = {"stages": 0, "tasks": 0, "busy_ms": 0, "shuffle": 0, "spill": 0}
            for sid in stage_ids:
                try:
                    stage = store.lastStageAttempt(sid)
                except Py4JJavaError:  # an earlier job's stage, reused here
                    continue
                if stage.status().toString() == "SKIPPED":
                    continue
                st["stages"] += 1
                st["tasks"] += stage.numCompleteTasks()
                st["busy_ms"] += stage.executorRunTime()
                st["shuffle"] += stage.shuffleWriteBytes()
                st["spill"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            span.stats = {
                "stages": st["stages"],
                "tasks": st["tasks"],
                "executor_busy_s": st["busy_ms"] / 1e3,
                "driver_gap_s": span.wall_s - _covered(intervals, span.start, span.end),
                "shuffle_write_mb": st["shuffle"] / MB,
                "spill_mb": st["spill"] / MB,
            }
        return time.perf_counter() - t0


class _Phases:
    def __init__(self, tracer: Tracer, span: Span):
        self._tracer = tracer
        self.span = span

    @contextmanager
    def _phase(self, name: str):
        first = self._tracer.next_job_id()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.span.phase_s[name] += time.perf_counter() - t0
            self.span.jobs[name] += range(first, self._tracer.next_job_id())

    def construct(self):
        return self._phase("construct")

    def execute(self):
        return self._phase("execute")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(spans: list[Span], layers: list[str], n_iter: int) -> dict:
    """Per-iteration mean of each layer's fields over ``spans``; layers with
    no span report 0."""
    out = {}
    for layer in layers:
        mine = [s for s in spans if s.layer == layer]
        vals = {
            "wall_s": sum(s.wall_s for s in mine),
            "construct_s": sum(s.phase_s["construct"] for s in mine),
            "execute_s": sum(s.phase_s["execute"] for s in mine),
            "jobs": sum(len(s.job_ids()) for s in mine),
        }
        for key in ("stages", "tasks", "executor_busy_s", "driver_gap_s",
                    "shuffle_write_mb", "spill_mb"):
            vals[key] = sum(s.stats.get(key, 0) for s in mine)
        for key in FIELDS:
            out[f"{layer}.{key}"] = vals[key] / n_iter
    return out


def self_times(spans: list[Span], iter_walls: dict[str, float]) -> dict:
    """Self time of each iteration root: its wall time minus the part its
    op spans cover (driver-side work between calls: reference checks,
    cache release)."""
    out = {}
    for root, wall in iter_walls.items():
        kids = [s for s in spans if s.parent == root]
        out[root] = wall - sum(s.wall_s for s in kids)
    return out
