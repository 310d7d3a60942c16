"""Spark counters collected from outside the engine.

Each measured operation runs under its own job group (a thread-local
property, so concurrent HTTP requests stay apart); afterwards the group's
jobs and stages are read from the driver's status tracker and status store.
Nothing inside the engine is changed or instrumented.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    """Counters of one job group; times in seconds, sizes in bytes."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # (submission, completion) epoch milliseconds of each job
    intervals: list[tuple[int, int]] = field(default_factory=list)

    def busy_ms(self, lo_ms: float, hi_ms: float) -> float:
        """Wall milliseconds inside [lo_ms, hi_ms] with at least one of the
        group's jobs running (the union of the job intervals)."""
        spans = sorted((max(lo_ms, a), min(hi_ms, b))
                       for a, b in self.intervals)
        total, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
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


class SparkProbe:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    @contextlib.contextmanager
    def group(self, name: str):
        """Tag every job the calling thread launches inside the block."""
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stats(self, name: str) -> GroupStats:
        """Counters of every finished job in group ``name``."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = GroupStats()
        for job_id in tracker.getJobIdsForGroup(name):
            job = store.job(job_id)
            out.jobs += 1
            if job.submissionTime().isDefined() and \
                    job.completionTime().isDefined():
                out.intervals.append((
                    job.submissionTime().get().getTime(),
                    job.completionTime().get().getTime(),
                ))
            info = tracker.getJobInfo(job_id)
            for sid in (info.stageIds if info is not None else []):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks() + st.numFailedTasks()
                out.task_s += st.executorRunTime() / 1e3
                out.gc_s += st.jvmGcTime() / 1e3
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += (st.memoryBytesSpilled()
                                    + st.diskBytesSpilled())
        return out
