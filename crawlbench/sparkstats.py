"""Spark job and stage metrics for one call, read from the driver's
status store.

``AppStatusStore`` keeps every job and stage of the application with
its task metrics, and it is filled whether or not the web UI runs.
Jobs are attributed to a call by the range of job ids the call
launched, not by job group: threads a call starts (``run_round``'s
overlapped writes) do not inherit the caller's group, but their job ids
still fall inside the call's range.
"""

from __future__ import annotations

import time

# stage metrics summed over a call's stages: name -> (StageData getter, scale)
_STAGE_SUMS = {
    "exec_run_s": ("executorRunTime", 1e-3),
    "exec_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "tasks": ("numCompleteTasks", 1),
}

METRICS = (
    "jobs",
    "stages",
    *_STAGE_SUMS,
    "job_busy_s",
    "driver_gap_s",
    "slot_util",
)


def _ms(opt_date) -> int | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


class StatusStore:
    """Reader over one SparkContext's status store."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.slots = spark.sparkContext.defaultParallelism

    def settle(self) -> None:
        """Wait until the listener bus has delivered every posted event,
        so the store reflects all jobs that have ended."""
        self._bus.waitUntilEmpty()

    def last_job_id(self) -> int:
        """Highest job id submitted so far (-1 before the first job)."""
        jobs = self._store.jobsList(None)
        it = jobs.iterator()
        top = -1
        while it.hasNext():
            top = max(top, it.next().jobId())
        return top

    def jobs_after(self, job_id: int) -> list:
        """JobData of every job with id > ``job_id``."""
        out = []
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() > job_id:
                out.append(j)
        return sorted(out, key=lambda j: j.jobId())

    def summarize(self, jobs: list, t0: float, t1: float) -> dict:
        """Metrics of ``jobs`` run inside the wall interval [t0, t1]
        (epoch seconds).  ``job_busy_s`` is the union of the jobs'
        intervals clipped to the call, so ``job_busy_s + driver_gap_s``
        is the call's wall time exactly."""
        out = {k: 0 for k in METRICS}
        out["jobs"] = len(jobs)
        spans = []
        seen_stages = set()
        for j in jobs:
            a, b = _ms(j.submissionTime()), _ms(j.completionTime())
            if a is not None:
                spans.append((max(a / 1e3, t0), min((b if b is not None else t1 * 1e3) / 1e3, t1)))
            sids = j.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self._store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                for name, (getter, scale) in _STAGE_SUMS.items():
                    out[name] += getattr(st, getter)() * scale
        busy, end = 0.0, float("-inf")
        for a, b in sorted(spans):
            if b <= a:
                continue
            if a > end:
                busy += b - a
                end = b
            elif b > end:
                busy += b - end
                end = b
        wall = t1 - t0
        out["job_busy_s"] = busy
        out["driver_gap_s"] = wall - busy
        out["slot_util"] = out["exec_run_s"] / (wall * self.slots) if wall > 0 else 0.0
        return out


class Window:
    """Context manager that times a call and collects the metrics of the
    Spark jobs it launched::

        with Window(store) as w:
            frontier.run_round(1)
        w.metrics["job_busy_s"], w.wall_s
    """

    def __init__(self, store: StatusStore):
        self.store = store
        self.metrics: dict = {}
        self.wall_s = 0.0
        self.read_s = 0.0  # time spent reading the store (tracing cost)

    def __enter__(self):
        r0 = time.perf_counter()
        self.store.settle()
        self._before = self.store.last_job_id()
        self.read_s += time.perf_counter() - r0
        self._t0 = time.time()
        return self

    def __exit__(self, exc_type, exc, tb):
        t1 = time.time()
        self.wall_s = t1 - self._t0
        if exc_type is not None:
            return False
        r0 = time.perf_counter()
        self.store.settle()
        jobs = self.store.jobs_after(self._before)
        self.metrics = self.store.summarize(jobs, self._t0, t1)
        self.read_s += time.perf_counter() - r0
        return False
