"""Spark engine counters for an operation, read from the application status
store (populated with the UI disabled) the way ``tools/job_trace.py``
reads it: jobs, tasks, shuffle bytes and job submit/complete times."""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class JobStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    first_submit_s: float | None = None  # epoch seconds
    last_complete_s: float | None = None
    stage_ids: list = field(default_factory=list)


class SparkCounters:
    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()

    def next_job_id(self) -> int:
        """Id the next submitted job will get; two marks bracket a window."""
        return int(self._dag.numTotalJobs())

    def window(self, j0: int, j1: int) -> JobStats:
        out = JobStats()
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if not j0 <= j.jobId() < j1:
                continue
            out.jobs += 1
            out.tasks += int(j.numTasks())
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                t = sub.get().getTime() / 1000.0
                out.first_submit_s = t if out.first_submit_s is None else min(out.first_submit_s, t)
            if comp.isDefined():
                t = comp.get().getTime() / 1000.0
                out.last_complete_s = t if out.last_complete_s is None else max(out.last_complete_s, t)
            sit = j.stageIds().iterator()
            while sit.hasNext():
                out.stage_ids.append(int(str(sit.next())))
        for sid in sorted(set(out.stage_ids)):
            try:
                out.shuffle_write_bytes += int(self._store.lastStageAttempt(sid).shuffleWriteBytes())
            except Py4JJavaError:  # a skipped stage has no attempt record
                continue
        return out
