"""Engine-layer counters read from Spark's own status store.

Works with the UI disabled: the driver's ``AppStatusStore`` is filled
by the listener bus either way. Each ``collect`` call returns the
totals of the jobs that started since the previous call, so callers
read right after each operation (the store keeps a bounded history).
"""

from __future__ import annotations

STAGE_FIELDS = {
    # name: (StageData getter, scale to SI unit)
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill_bytes": ("diskBytesSpilled", 1),
}


class EngineCounters:
    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._gateway.jvm.double, 0
        )
        self.slots = spark.sparkContext.defaultParallelism
        self._last_job = self._max_job_id()

    def _jobs(self):
        self._bus.waitUntilEmpty(30_000)
        seq = self._store.jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    def _max_job_id(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def collect(self, start_wall_s: float) -> dict[str, float]:
        """Counters of the jobs started since the last call.
        ``plan_s`` is the time from ``start_wall_s`` (``time.time()``
        when the operation began) to its first job's submission."""
        jobs = [j for j in self._jobs() if j.jobId() > self._last_job]
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update(jobs=len(jobs), stages=0, tasks=0, plan_s=0.0,
                   peak_exec_mem_bytes=0.0)
        if not jobs:
            return out
        self._last_job = max(j.jobId() for j in jobs)
        first = min(
            j.submissionTime().get().getTime()
            for j in jobs
            if j.submissionTime().isDefined()
        )
        out["plan_s"] = max(0.0, first / 1000.0 - start_wall_s)
        stage_ids: set[int] = set()
        for j in jobs:
            ids = j.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            attempts = self._store.stageData(
                sid, False, None, False, self._no_quantiles
            )
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.numCompleteTasks() == 0:
                    continue  # skipped stage: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                for key, (getter, scale) in STAGE_FIELDS.items():
                    out[key] += getattr(st, getter)() * scale
                out["peak_exec_mem_bytes"] = max(
                    out["peak_exec_mem_bytes"], float(st.peakExecutionMemory())
                )
        return out
