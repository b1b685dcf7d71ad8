"""Spans around the program's public calls, and the status-store reads
that attribute Spark jobs and stages to them.

Untraced runs use :class:`Tracer` with ``enabled=False``: a span is
then a bare context manager with no clock reads, no job groups and no
status-store access, so the end-to-end figures carry no tracing cost.

Traced runs set a job group per span before the call, drain the
listener bus after it, and read the span's jobs and stages from
``sc._jsc.sc().statusStore()``, which Spark fills with the UI disabled.
Spans are kept in memory and handed back at the end of the run.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    op: int | None
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    job_wall_s: float = 0.0  # union of the span's job intervals
    task_s: float = 0.0  # summed executor run time of its stages
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def driver_s(self) -> float:
        """Span wall minus the time some job of the span was running."""
        return max(self.wall_s - self.job_wall_s, 0.0)

    def record(self) -> dict:
        return asdict(self)


class Tracer:
    """Records a :class:`Span` per ``span()`` block when enabled."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # the tracer's own time, see span()
        self._spark = spark
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    def reset(self) -> None:
        """Drop what set-up recorded, so the run reports timed ops only."""
        self.spans.clear()
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        # the tracer's own time: job-group calls, listener-bus drain and
        # status-store reads, all on the thread the op runs on
        t = time.perf_counter()
        sc = self._spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, next(self._ids), parent.span_id if parent else None,
                  op if op is not None else (parent.op if parent else None))
        group = f"perfbench-{sp.span_id}"
        sc.setJobGroup(group, name)
        self._stack.append(sp)
        self.overhead_s += time.perf_counter() - t
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            t = time.perf_counter()
            self._collect(sp, group)
            if parent is not None:
                sc.setJobGroup(f"perfbench-{parent.span_id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t

    def _collect(self, sp: Span, group: str) -> None:
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        intervals = []
        stage_ids: set[int] = set()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            sp.jobs += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1e3 if done.isDefined() else sp.end
                intervals.append((sub.get().getTime() / 1e3, end))
            ids = jd.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        sp.job_wall_s = _union(intervals, sp.start, sp.end)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage never submitted has no record
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            sp.task_s += sd.executorRunTime() / 1e3
            sp.shuffle_write_bytes += sd.shuffleWriteBytes()
            sp.shuffle_read_bytes += sd.shuffleReadBytes()
            sp.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sp.input_records += sd.inputRecords()


def _union(intervals, lo: float, hi: float) -> float:
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-name self time: each span's wall minus the part its child
    spans cover, summed over spans of the same name."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union([(c.start, c.end) for c in children.get(s.span_id, [])],
                         s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + s.wall_s - covered
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Driver JVM plus this Python process."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
