"""Per-layer accounting of one batch operation, read only through hooks
outside the engine: Spark job groups, the status tracker, the application
status store and ``QueryExecution.tracker()``.

Used in traced runs only; untraced runs call the engine with none of it.
"""

from __future__ import annotations

import time

_MB = 2**20
LAYER_KEYS = (
    "plans.build_s", "plans.build_jobs", "catalyst.plan_ms", "exec.s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "exec.task_cpu_s",
)


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._n = 0

    def run_query(self, fn, spark, data_dir: str) -> dict:
        """Build the query's plan and run it into the noop sink, each under
        its own job group, and return the layer figures. They are read
        after the write returns, so the caller's timing of the whole call
        includes the tracing cost."""
        self._n += 1
        build_group, exec_group = f"perfbench-build-{self._n}", f"perfbench-exec-{self._n}"
        self._sc.setJobGroup(build_group, "perfbench plan construction")
        t0 = time.perf_counter()
        df = fn(spark, data_dir)
        t1 = time.perf_counter()
        self._sc.setJobGroup(exec_group, "perfbench execution")
        df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store fills from the listener bus; let it catch up
        self._bus.waitUntilEmpty(60_000)
        build_jobs = self._sc.statusTracker().getJobIdsForGroup(build_group)
        ex = self._jobs(self._sc.statusTracker().getJobIdsForGroup(exec_group))
        return {
            "plans.build_s": t1 - t0,
            "plans.build_jobs": len(build_jobs),
            "catalyst.plan_ms": self._catalyst_ms(df),
            "exec.s": t2 - t1,
            "exec.jobs": ex["jobs"],
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.shuffle_read_mb": ex["shuffle_read"] / _MB,
            "exec.shuffle_write_mb": ex["shuffle_write"] / _MB,
            "exec.spill_mb": ex["spill"] / _MB,
            "exec.task_cpu_s": ex["cpu_ns"] / 1e9,
        }

    def _jobs(self, job_ids) -> dict:
        out = dict(jobs=len(job_ids), stages=0, tasks=0, shuffle_read=0,
                   shuffle_write=0, spill=0, cpu_ns=0)
        seen = set()
        for jid in job_ids:
            info = self._sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["shuffle_write"] += sd.shuffleWriteBytes()
                out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["cpu_ns"] += sd.executorCpuTime()
        return out

    @staticmethod
    def _catalyst_ms(df) -> float:
        """Analysis + optimization + planning of the query's plan, from the
        ``QueryExecution.tracker()`` of a fresh projection over it. The
        returned DataFrame's own tracker cannot be used: a phase measured
        twice spans from its first start to its last end, and the engine
        memoizes some DataFrames across calls."""
        qe = df.select("*")._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        total = 0
        for name in ("analysis", "optimization", "planning"):
            phase = phases.get(name)
            if phase.isDefined():
                total += phase.get().durationMs()
        return float(total)
