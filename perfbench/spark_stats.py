"""Read Spark's own bookkeeping from outside the engine.

- ``StatusStore``: the AppStatusStore (jobs, stages, tasks, cached RDDs),
  read per job group through Jackson so one py4j call returns a whole
  list as JSON.
- ``catalyst_phases``: the QueryPlanningTracker of an executed DataFrame.
- ``udf_profile_totals``: the totals of Spark's UDF profiler.
"""

from __future__ import annotations

import json

MB = 1024.0 * 1024.0
_ALL_TASKS = 2**31 - 1


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._tracker = self._sc.statusTracker()
        scala_module = getattr(sc._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every pending event,
        so the store reflects all jobs that have returned."""
        self._sc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[dict]:
        """The jobs of one job group, read right after the group's last job
        has returned, so Spark's default retention limits never drop them."""
        return [self._json(self._store.job(j)) for j in self._tracker.getJobIdsForGroup(group)]

    def cached_rdds(self) -> dict[int, int]:
        """{rdd id: bytes held in memory and on disk} for RDDs with blocks."""
        return {
            r["id"]: r["memoryUsed"] + r["diskUsed"]
            for r in self._json(self._store.rddList(True))
            if r["numCachedPartitions"] > 0
        }

    def group_counters(self, jobs: list[dict], build_end_ms: float) -> dict:
        """Counters of one query's job group. Stages that a job skipped
        (their output was reused) are not counted; ``peak_exec_mem_mb`` is
        the largest stage's summed task peak."""
        c = {
            "jobs": len(jobs),
            "build_jobs": sum(1 for j in jobs if j["submissionTime"] <= build_end_ms),
            "stages": 0, "tasks": 0, "useful_tasks": 0, "failed_tasks": 0,
            "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "input_mb": 0.0, "output_mb": 0.0, "peak_exec_mem_mb": 0.0,
        }
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            st = self._json(self._store.lastStageAttempt(sid))
            if st["status"] == "SKIPPED":
                continue
            c["stages"] += 1
            c["failed_tasks"] += st["numFailedTasks"]
            c["task_run_s"] += st["executorRunTime"] / 1e3
            c["task_cpu_s"] += st["executorCpuTime"] / 1e9
            c["gc_s"] += st["jvmGcTime"] / 1e3
            c["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
            c["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
            c["spill_mb"] += st["diskBytesSpilled"] / MB
            c["input_mb"] += st["inputBytes"] / MB
            c["output_mb"] += st["outputBytes"] / MB
            c["peak_exec_mem_mb"] = max(c["peak_exec_mem_mb"], st["peakExecutionMemory"] / MB)
            for t in self._json(self._store.taskList(sid, st["attemptId"], _ALL_TASKS)):
                c["tasks"] += 1
                m = t.get("taskMetrics") or {}
                read = (m.get("inputMetrics") or {}).get("recordsRead", 0)
                read += (m.get("shuffleReadMetrics") or {}).get("recordsRead", 0)
                c["useful_tasks"] += read > 0
        return c


def catalyst_phases(df) -> dict[str, tuple[int, int]]:
    """{phase: (start ms, end ms)} from the DataFrame's planning tracker:
    analysis, optimization and planning."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = (kv._2().startTimeMs(), kv._2().endTimeMs())
    return out


def udf_profile_totals(spark) -> tuple[float, int]:
    """(seconds, calls) summed over every UDF the perf profiler has seen
    in this session. A call is one invocation of the profiled function
    (one Arrow batch for a pandas UDF)."""
    secs, calls = 0.0, 0
    for stats in spark._profiler_collector._perf_profile_results.values():
        secs += stats.total_tt
        for func, (_cc, nc, _tt, _ct, callers) in stats.stats.items():
            if not callers and "_lsprof.Profiler" not in func[2]:
                calls += nc
    return secs, calls
