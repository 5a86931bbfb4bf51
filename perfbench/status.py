"""Spark status-store probe: per-span job/stage counters and cache size.

Reads the driver's in-process ``AppStatusStore`` (it is populated with
``spark.ui.enabled=false`` too). ``stageList`` and ``jobsList`` return Scala
``Seq`` objects, newest first; they are indexed with ``.apply(i)`` (py4j
exposes no ``.get``). Only entries newer than the last drain are read, so
one drain costs a handful of py4j calls per new stage.
"""

from __future__ import annotations

#: counter names a drain returns (all additive across drains)
COUNTERS = ("jobs", "stages", "tasks", "task_run_s", "jvm_cpu_s",
            "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
            "task_max_s", "task_median_s")

_MB = 1024.0 * 1024.0


class StatusProbe:
    """Diffs the status store between calls to :meth:`drain`."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        jvm = self.sc._jvm
        self._empty_list = jvm.java.util.ArrayList
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self.bus.waitUntilEmpty()
        self.job_mark = self._newest_job_id()
        self.stage_mark = self._newest_stage_id()

    def _jobs(self):
        return self.store.jobsList(self._empty_list())

    def _stages(self):
        return self.store.stageList(self._empty_list(), False, False,
                                    self.sc._gateway.new_array(self.sc._jvm.double, 0),
                                    self._empty_list())

    def _newest_job_id(self) -> int:
        jobs = self._jobs()
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _newest_stage_id(self) -> int:
        stages = self._stages()
        return stages.apply(0).stageId() if stages.size() else -1

    def drain(self) -> dict[str, float]:
        """Counters of the jobs and stages that appeared since the last drain.

        Waits for the listener bus first, so every job an action already
        returned from is fully recorded.
        """
        self.bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0.0)
        jobs = self._jobs()
        newest_job = self.job_mark
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self.job_mark:
                break
            newest_job = max(newest_job, jid)
            out["jobs"] += 1
        self.job_mark = newest_job

        stages = self._stages()
        newest_stage = self.stage_mark
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self.stage_mark:
                break
            newest_stage = max(newest_stage, sid)
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["jvm_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["spill_mb"] += st.diskBytesSpilled() / _MB
            if st.numTasks() >= 2:
                summary = self.store.taskSummary(sid, st.attemptId(), self._quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    out["task_median_s"] += run.apply(0) / 1e3
                    out["task_max_s"] += run.apply(1) / 1e3
        self.stage_mark = newest_stage
        return out

    def cached_mb(self) -> float:
        """Memory plus disk held by persisted RDDs/frames right now."""
        self.bus.waitUntilEmpty()
        total = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        return total / _MB


def derived(c: dict[str, float]) -> dict[str, float]:
    """Per-layer ratios from summed counters: UDF-boundary wait and skew.

    ``python_wait_s`` is task run time minus JVM CPU time: executor CPU
    time excludes the Python workers, so the gap is time tasks spent
    waiting on the Arrow/Python boundary (plus any I/O or GC wait).
    ``task_skew`` is the summed per-stage max task time over the summed
    per-stage median task time (stages with at least two tasks).
    """
    med = c.get("task_median_s", 0.0)
    return {
        "python_wait_s": max(c.get("task_run_s", 0.0) - c.get("jvm_cpu_s", 0.0), 0.0),
        "task_skew": c.get("task_max_s", 0.0) / med if med > 0 else 0.0,
    }
