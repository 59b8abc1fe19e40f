"""Spans, Spark status-store deltas and micro-batch records for the traced run.

The benchmark records spans around its own calls into the package; nothing
inside the package is instrumented. Jobs and stages are attributed to a span
by id deltas on Spark's ``AppStatusStore``: ids grow monotonically and the
benchmark runs one call at a time, so the jobs and stages newer than the
snapshot taken when a span opened are that span's, including jobs launched
from streaming threads. Micro-batches are recorded by a
``StreamingQueryListener``.

The store keeps only the newest ``spark.ui.retainedJobs`` jobs and
``spark.ui.retainedStages`` stages. When eviction reaches into a span's
window the delta reads ``None``, never an undercount.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass(frozen=True)
class Job:
    job_id: int
    description: str | None
    stage_ids: tuple[int, ...]
    submitted_ms: int | None
    completed_ms: int | None


@dataclass(frozen=True)
class Stage:
    stage_id: int
    tasks: int
    cpu_ns: int
    run_ms: int
    gc_ms: int
    input_bytes: int
    input_records: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


def delta(
    before: tuple[int, int],
    jobs: list[Job],
    stages: list[Stage],
    oldest: tuple[int | None, int | None],
) -> dict | None:
    """Totals of the jobs and stages newer than ``before`` (max job id,
    max stage id at the snapshot), grouped by job description.

    ``oldest`` is the (min job id, min stage id) the store still holds. If
    either is past the first id of the window, eviction dropped part of the
    window and the result is ``None``."""
    j0, s0 = before
    oldest_job, oldest_stage = oldest
    if (oldest_job is not None and oldest_job > j0 + 1) or (
        oldest_stage is not None and oldest_stage > s0 + 1
    ):
        return None
    new_jobs = [j for j in jobs if j.job_id > j0]
    new_stages = {s.stage_id: s for s in stages if s.stage_id > s0}
    owner = {sid: j.description for j in new_jobs for sid in j.stage_ids}
    out = _totals(new_stages.values())
    out["jobs"] = len(new_jobs)
    out["job_intervals"] = [
        (j.submitted_ms, j.completed_ms)
        for j in new_jobs
        if j.submitted_ms is not None and j.completed_ms is not None
    ]
    by_desc: dict[str, dict] = {}
    for desc in {j.description for j in new_jobs}:
        mine = [j for j in new_jobs if j.description == desc]
        d = _totals(s for sid, s in new_stages.items() if owner.get(sid) == desc)
        d["jobs"] = len(mine)
        d["job_intervals"] = [
            (j.submitted_ms, j.completed_ms)
            for j in mine
            if j.submitted_ms is not None and j.completed_ms is not None
        ]
        by_desc[desc or ""] = d
    out["by_description"] = by_desc
    return out


def _totals(stages) -> dict:
    t = {
        "stages": 0,
        "tasks": 0,
        "task_cpu_s": 0.0,
        "task_run_s": 0.0,
        "gc_s": 0.0,
        "input_bytes": 0,
        "input_records": 0,
        "bytes_written": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
    }
    for s in stages:
        t["stages"] += 1
        t["tasks"] += s.tasks
        t["task_cpu_s"] += s.cpu_ns / 1e9
        t["task_run_s"] += s.run_ms / 1e3
        t["gc_s"] += s.gc_ms / 1e3
        t["input_bytes"] += s.input_bytes
        t["input_records"] += s.input_records
        t["bytes_written"] += s.output_bytes
        t["shuffle_read_bytes"] += s.shuffle_read_bytes
        t["shuffle_write_bytes"] += s.shuffle_write_bytes
        t["spill_bytes"] += s.spill_bytes
    return t


def covered_s(intervals: list[tuple[int, int]], lo_ms: float, hi_ms: float) -> float:
    """Seconds of [lo_ms, hi_ms] covered by the union of ``intervals``."""
    spans = sorted((max(a, lo_ms), min(b, hi_ms)) for a, b in intervals)
    total, end = 0.0, lo_ms
    for a, b in spans:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total / 1e3


class StatusStore:
    """Jobs and stages read from the driver's ``AppStatusStore`` over py4j.
    Both lists come back newest first, so reads stop at the snapshot id."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._empty = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _jobs_seq(self):
        return self._store.jobsList(self._empty)

    def _stages_seq(self):
        # py4j sees the 5-argument overload:
        # (statuses, details, withSummaries, unsortedQuantiles, taskStatus)
        return self._store.stageList(self._empty, False, False, self._no_quantiles, self._empty)

    def snapshot(self) -> tuple[int, int]:
        jobs, stages = self._jobs_seq(), self._stages_seq()
        j = jobs.apply(0).jobId() if jobs.size() else -1
        s = stages.apply(0).stageId() if stages.size() else -1
        return j, s

    def since(self, before: tuple[int, int]) -> dict | None:
        # The status store is fed asynchronously by the listener bus; let it
        # catch up with the jobs that just finished before reading.
        self._bus.waitUntilEmpty()
        j0, s0 = before
        jobs_seq, stages_seq = self._jobs_seq(), self._stages_seq()
        jobs, stages = [], []
        for i in range(jobs_seq.size()):
            j = jobs_seq.apply(i)
            if j.jobId() <= j0:
                break
            desc = j.description()
            sub, comp = j.submissionTime(), j.completionTime()
            ids = j.stageIds()
            jobs.append(
                Job(
                    j.jobId(),
                    desc.get() if desc.isDefined() else None,
                    tuple(ids.apply(k) for k in range(ids.size())),
                    sub.get().getTime() if sub.isDefined() else None,
                    comp.get().getTime() if comp.isDefined() else None,
                )
            )
        for i in range(stages_seq.size()):
            s = stages_seq.apply(i)
            if s.stageId() <= s0:
                break
            stages.append(
                Stage(
                    s.stageId(),
                    s.numTasks(),
                    s.executorCpuTime(),
                    s.executorRunTime(),
                    s.jvmGcTime(),
                    s.inputBytes(),
                    s.inputRecords(),
                    s.outputBytes(),
                    s.shuffleReadBytes(),
                    s.shuffleWriteBytes(),
                    s.memoryBytesSpilled() + s.diskBytesSpilled(),
                )
            )
        oldest = (
            jobs_seq.apply(jobs_seq.size() - 1).jobId() if jobs_seq.size() else None,
            stages_seq.apply(stages_seq.size() - 1).stageId() if stages_seq.size() else None,
        )
        return delta(before, jobs, stages, oldest)


class BatchLog(StreamingQueryListener):
    """Every micro-batch's progress, kept in memory."""

    def __init__(self):
        self.batches: list[dict] = []
        self.terminated = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append(
            {
                "query_id": str(p.id),
                "name": p.name,
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1

    def settle(self, terminated: int, timeout_s: float = 30.0) -> None:
        """Wait until ``terminated`` queries have reported termination;
        events arrive on the listener bus after the query has stopped."""
        end = time.monotonic() + timeout_s
        while self.terminated < terminated and time.monotonic() < end:
            time.sleep(0.01)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    iteration: int
    spark: dict | None = None


@dataclass
class Tracer:
    """Records spans in memory. Without a store it only times, so the
    untraced run pays no status-store reads. ``begin``/``end`` bracket one
    iteration: with a store, the iteration's whole job range is recorded so
    per-span job counts can be checked against it; with a listener, the
    micro-batches of the iteration's streaming queries are kept with it."""

    store: StatusStore | None = None
    listener: BatchLog | None = None
    queries_per_iteration: int = 0
    spans: list[Span] = field(default_factory=list)
    iterations: dict[int, dict] = field(default_factory=dict)
    iteration: int = -1
    _stack: list[int] = field(default_factory=list)
    _mark: tuple = ()

    def begin(self) -> None:
        self.iteration += 1
        self._mark = (
            self.store.snapshot() if self.store else None,
            len(self.listener.batches) if self.listener else 0,
        )

    def end(self) -> None:
        before, first_batch = self._mark
        batches: list[dict] = []
        if self.listener:
            self.listener.settle(self.queries_per_iteration * (self.iteration + 1))
            batches = self.listener.batches[first_batch:]
        self.iterations[self.iteration] = {
            "spark": self.store.since(before) if self.store else None,
            "batches": batches,
        }

    @contextmanager
    def span(self, name: str):
        before = self.store.snapshot() if self.store else None
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, time.time(), 0.0, parent, self.iteration)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._stack.pop()
            if self.store:
                rec.spark = self.store.since(before)

    def to_json(self) -> dict:
        return {"spans": [asdict(s) for s in self.spans], "iterations": self.iterations}
