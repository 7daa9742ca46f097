"""Spans, Spark job attribution and process-tree sampling.

Everything here observes the engine from outside: a span is recorded by
replacing a public function at the attribute its callers look up, and the
Spark jobs a span started are found by job id, which the DAG scheduler hands
out in submission order.  No file of the package is changed.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# The memory sampler reads the tree every SAMPLE_S seconds and rebuilds its
# list of processes every RESCAN_S seconds, which keeps its own cost small.
SAMPLE_S = 0.25
RESCAN_S = 1.0


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class SparkJobs:
    """Per-call Spark job and stage totals, read from the status store.

    Job ids are assigned at submission, so the ids handed out between the
    start and the end of a call are exactly the jobs submitted in that
    window, whichever thread submitted them (``run_concurrently`` pool
    threads carry no job group of the caller)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def totals(self, first: int, end: int) -> dict:
        """Jobs, tasks, executor CPU, shuffle and spill of jobs [first, end)."""
        out = {"jobs": end - first, "tasks": 0, "cpu_s": 0.0,
               "shuffle_bytes": 0, "spill_bytes": 0}
        if end <= first:
            return out
        self._sc.listenerBus().waitUntilEmpty()
        stages: set[int] = set()
        for job_id in range(first, end):
            try:
                ids = self._store.job(job_id).stageIds()
            except Exception:  # noqa: BLE001 — job evicted from the store
                continue
            it = ids.iterator()
            while it.hasNext():
                stages.add(int(it.next()))
        for stage_id in stages:
            try:
                s = self._store.lastStageAttempt(stage_id)
            except Exception:  # noqa: BLE001 — stage never ran
                continue
            out["tasks"] += int(s.numCompleteTasks())
            out["cpu_s"] += int(s.executorCpuTime()) / 1e9
            out["shuffle_bytes"] += int(s.shuffleWriteBytes())
            out["spill_bytes"] += int(s.memoryBytesSpilled()) + int(
                s.diskBytesSpilled()
            )
        return out


class Tracer:
    """In-memory span recorder.  ``enabled`` is switched per pass; while it
    is off every wrapper calls straight through."""

    def __init__(self, spark) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.jobs = SparkJobs(spark)
        self._stack: list[int] = []
        self._restore: list[tuple[Any, str, Any]] = []

    def open(self, layer: str, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(layer, name, time.perf_counter(), parent=parent))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        return span

    def call(self, layer: str, name: str, fn: Callable, *args: Any,
             spark_jobs: bool = False, **kwargs: Any) -> Any:
        """Run ``fn`` inside a span; with ``spark_jobs`` the span also gets
        the totals of the Spark jobs submitted while it ran."""
        return self._run(layer, name, fn, args, kwargs, spark_jobs, None, None)

    def wrap(self, owner: Any, attr: str, layer: str, name: str,
             spark_jobs: bool = False,
             before: Callable[[tuple, dict], Any] | None = None,
             after: Callable[[Span, tuple, dict, Any, Any], None] | None = None,
             ) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until :meth:`unwrap`.
        ``before(args, kwargs)`` runs ahead of the call and its value is
        handed to ``after(span, args, kwargs, result, before_value)``, which
        may add attributes.  Both run outside the span."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        def wrapper(*args: Any, **kwargs: Any) -> Any:
            return self._run(layer, name, original, args, kwargs,
                             spark_jobs, before, after)

        self._restore.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def _run(self, layer, name, fn, args, kwargs, spark_jobs, before, after) -> Any:
        if not self.enabled:
            return fn(*args, **kwargs)
        state = before(args, kwargs) if before is not None else None
        first = self.jobs.next_job_id() if spark_jobs else 0
        idx = self.open(layer, name)
        result = None
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            span = self.close(idx)
            if spark_jobs:
                span.attrs.update(self.jobs.totals(first, self.jobs.next_job_id()))
            if after is not None:
                after(span, args, kwargs, result, state)

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)


class ProcessTree:
    """Memory and CPU time of this process and every descendant (the JVM
    and its Python workers), read from /proc."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.samples: list[tuple[float, int]] = []  # (perf_counter, bytes)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[tuple[int, int]]:
        """(pid, depth) of the root and every descendant."""
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [(self.root, 0)]
        while todo:
            pid, depth = todo.pop()
            out.append((pid, depth))
            todo.extend((child, depth + 1) for child in children.get(pid, []))
        return out

    def memory_bytes(self, pids: list[tuple[int, int]]) -> int:
        """Resident memory of the tree.  This process and the JVM (depth 0
        and 1) count their RSS.  Deeper processes are Spark's Python daemon
        and the workers it forks, which share most of their pages, so they
        count their proportional set size.  Reading the JVM's PSS would walk
        its whole address space on every sample."""
        total = 0
        for pid, depth in pids:
            try:
                if depth <= 1:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * _PAGE
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def cpu_seconds(self) -> float:
        """User plus system time of the live tree, including reaped
        children (Spark's Python daemon reaps its exited workers)."""
        ticks = 0
        for pid, _depth in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / _TICK

    def start_sampling(self) -> None:
        """Sample the tree's memory every ``SAMPLE_S`` seconds."""

        def loop() -> None:
            pids: list[int] = []
            scanned = float("-inf")
            while not self._stop.is_set():
                if time.monotonic() - scanned >= RESCAN_S:
                    pids, scanned = self.pids(), time.monotonic()
                self.samples.append((time.perf_counter(), self.memory_bytes(pids)))
                self._stop.wait(SAMPLE_S)

        self._thread = threading.Thread(target=loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop_sampling(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def progress_attrs(span, args, kwargs, result, before) -> None:
    """``after`` hook for ``StreamingQuery.awaitTermination``: totals of
    the query's micro-batch progress reports."""
    query = args[0]
    progress = query.recentProgress
    durations = [p.get("durationMs", {}) if isinstance(p, dict) else p.durationMs
                 for p in progress]
    span.attrs.update(
        micro_batches=len(progress),
        rows=sum((p["numInputRows"] if isinstance(p, dict) else p.numInputRows)
                 for p in progress),
        trigger_ms=sum(d.get("triggerExecution", 0) for d in durations),
        add_batch_ms=sum(d.get("addBatch", 0) for d in durations),
        planning_ms=sum(d.get("queryPlanning", 0) for d in durations),
    )
