"""Per-call attribution of Spark work, read from Spark's own status store.

A traced call records the job-id range it launched (the DAG scheduler's job
counter before and after the call), waits until the listener bus has
delivered every event of those jobs, then reads each job and its stages from
``SparkContext.statusStore`` — the store Spark keeps even with the UI off.
Job names cannot mark a write (writes run under the same anonymous AQE call
site as reads), so a write job is a job with a stage that wrote output
bytes or records.
"""

from __future__ import annotations

import time

#: the suffixes a traced call reports, in output order
FIELDS = ("jobs", "stages", "tasks", "job_busy_s", "driver_gap_s",
          "core_util", "input_mb", "shuffle_write_mb", "gc_s", "write_jobs",
          "write_s", "jobs_in_group_frac", "wall_s")


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class StatusStore:
    """Reads the jobs a call launched from the live status store."""

    def __init__(self, spark, group: str):
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.cores = spark.sparkContext.defaultParallelism
        self.group = group

    def job_counter(self) -> int:
        return self.sc.dagScheduler().numTotalJobs()

    def call(self, fn, *args):
        """Run ``fn(*args)``; return its result and the call's metrics."""
        j0 = self.job_counter()
        t0 = time.time()
        out = fn(*args)
        t1 = time.time()
        j1 = self.job_counter()
        return out, self.attribute(range(j0, j1), t0, t1)

    def attribute(self, job_ids, t0: float, t1: float) -> dict:
        self.sc.listenerBus().waitUntilEmpty()
        lo, hi = t0 * 1000.0, t1 * 1000.0
        spans, write_spans, stages = [], [], {}
        in_group = 0
        n_jobs = 0
        for jid in job_ids:
            job = self.store.job(jid)
            n_jobs += 1
            grp = job.jobGroup()
            in_group += int(grp.isDefined() and grp.get() == self.group)
            wrote = False
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid not in stages:
                    sd = self.store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        stages[sid] = None
                        continue
                    stages[sid] = (sd.numCompleteTasks(), sd.executorRunTime(),
                                   sd.jvmGcTime(), sd.inputBytes(),
                                   sd.shuffleWriteBytes(),
                                   sd.outputBytes() + sd.outputRecords())
                st = stages[sid]
                wrote = wrote or (st is not None and st[5] > 0)
            sub, end = job.submissionTime(), job.completionTime()
            a = sub.get().getTime() if sub.isDefined() else lo
            b = end.get().getTime() if end.isDefined() else hi
            span = (min(max(a, lo), hi), min(max(b, lo), hi))
            spans.append(span)
            if wrote:
                write_spans.append(span)
        ran = [s for s in stages.values() if s is not None]
        wall = t1 - t0
        busy = _union_ms(spans) / 1000.0
        run_ms = sum(s[1] for s in ran)
        return {
            "jobs": n_jobs,
            "stages": len(ran),
            "tasks": sum(s[0] for s in ran),
            "job_busy_s": busy,
            "driver_gap_s": wall - busy,
            "core_util": run_ms / 1000.0 / (self.cores * busy) if busy else 0.0,
            "input_mb": sum(s[3] for s in ran) / 1e6,
            "shuffle_write_mb": sum(s[4] for s in ran) / 1e6,
            "gc_s": sum(s[2] for s in ran) / 1000.0,
            "write_jobs": len(write_spans),
            "write_s": _union_ms(write_spans) / 1000.0,
            "jobs_in_group_frac": in_group / n_jobs if n_jobs else 0.0,
            "wall_s": wall,
        }
