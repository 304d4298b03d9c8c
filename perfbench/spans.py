"""Spans around the benchmark's calls into the package, with the Spark
counters of the jobs each call submitted.

A span records (name, layer, start, end, parent, run id). When tracing
is on, every Spark job is attributed to the innermost span open when it
was submitted: job ids are handed out in submission order, so reading
the scheduler's next job id when a span opens and again when it closes
splits the job sequence between spans. This also catches jobs that a
call launches from its own worker threads, which carry no job group of
the caller. Stage counters are read from the JVM status store right
after each span closes, before the store's retention evicts them; the
store is filled even with the Spark UI disabled.

With tracing off a span only times its body: untraced runs pay a few
clock reads per call and read no counters.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections import defaultdict

# Stage counters summed per layer: (metric suffix, StageData getter, scale).
_STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("executor_run_ms", "executorRunTime", 1),
    ("executor_cpu_ms", "executorCpuTime", 1e-6),
    ("gc_ms", "jvmGcTime", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "memoryBytesSpilled", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("output_bytes", "outputBytes", 1),
    ("input_bytes", "inputBytes", 1),
)
_RAN = ("COMPLETE", "FAILED")


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end", "wall_start",
                 "wall_end", "jobs", "counters", "child_s")

    def __init__(self, sid: int, name: str, layer: str, parent: "Span | None"):
        self.id = sid
        self.name = name
        self.layer = layer
        self.parent = parent
        self.wall_start = time.time()
        self.start = time.perf_counter()
        self.end = self.start
        self.wall_end = self.wall_start
        self.jobs: list[int] = []
        self.counters: dict[str, float] = defaultdict(float)
        # children's durations plus tracing work done inside this span
        self.child_s = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.seconds - self.child_s


class Tracer:
    """Span recorder. ``enabled=False`` keeps only the timings."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        # jobs whose recorded submission time lies outside their span
        self.misattributed_jobs: list[int] = []
        self._seen_stages: set[int] = set()
        if enabled:
            jsc = spark.sparkContext._jsc.sc()
            self._dag = jsc.dagScheduler()
            self._bus = jsc.listenerBus()
            self._store = jsc.statusStore()
            self._cursor = self._first_job = self._dag.nextJobId()

    # -- job attribution ------------------------------------------------

    def jobs_so_far(self) -> int:
        """Jobs submitted since the tracer was created."""
        return self._dag.nextJobId() - self._first_job

    def _flush(self) -> None:
        """Give the jobs submitted since the last flush to the open span;
        with no span open they stay unattributed."""
        nxt = self._dag.nextJobId()
        if self._stack:
            self._stack[-1].jobs.extend(range(self._cursor, nxt))
        self._cursor = nxt

    def _read_counters(self, span: Span) -> None:
        if not span.jobs:
            return
        self._bus.waitUntilEmpty()
        c = span.counters
        for j in span.jobs:
            jd = self._store.job(j)
            c["jobs"] += 1
            sub = jd.submissionTime()
            # the store keeps wall-clock milliseconds
            ms = sub.get().getTime() if not sub.isEmpty() else None
            if ms is None or not (
                span.wall_start * 1000 - 5 <= ms <= span.wall_end * 1000 + 5
            ):
                self.misattributed_jobs.append(j)
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in self._seen_stages:
                    continue
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() not in _RAN:
                    continue
                self._seen_stages.add(sid)
                c["stages"] += 1
                for key, getter, scale in _STAGE_FIELDS:
                    c[key] += getattr(sd, getter)() * scale

    # -- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        if self.enabled:
            t = time.perf_counter()
            self._flush()
            cost = time.perf_counter() - t
            self.overhead_s += cost
            if parent is not None:
                parent.child_s += cost
        sp = Span(next(self._ids), name, layer, parent)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.wall_end = time.time()
            cost = 0.0
            if self.enabled:
                self._flush()
            self._stack.pop()
            if self.enabled:
                self._read_counters(sp)
                cost = time.perf_counter() - sp.end
                self.overhead_s += cost
            if parent is not None:
                # Counter reads after a child closes happen inside the
                # parent's interval; they are tracing cost, not self time.
                parent.child_s += sp.seconds + cost
            self.spans.append(sp)

    # -- export -----------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "run": self.run_id,
                    "id": sp.id,
                    "parent": sp.parent.id if sp.parent else None,
                    "name": sp.name,
                    "layer": sp.layer,
                    "start": sp.start,
                    "end": sp.end,
                    "self_s": sp.self_s,
                    "jobs": sp.jobs,
                    "counters": dict(sp.counters),
                }) + "\n")
