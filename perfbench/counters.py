"""Spark scheduler counters for one job group.

Jobs, stages, tasks and failed tasks come from the public
``statusTracker``. Executor CPU time, executor run time and shuffle bytes
are only kept in the driver's private status store, reached through py4j
(``sc._jsc.sc().statusStore()``); when that store or one of its accessors
is missing the three values read ``"unavailable"`` instead of failing the
run.
"""

from __future__ import annotations

UNAVAILABLE = "unavailable"
STORE_KEYS = ("executor_cpu_s", "executor_run_s", "shuffle_bytes")


class SparkCounters:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def group(self, group_id: str) -> dict:
        """Totals over every job run under ``group_id``. A stage counts
        when at least one of its tasks ran (skipped stages are not)."""
        jobs = list(self.tracker.getJobIdsForGroup(group_id))
        stage_ids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        ran, tasks, failed = [], 0, 0
        for s in sorted(stage_ids):
            si = self.tracker.getStageInfo(s)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue
            ran.append(s)
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
        out = {"jobs": len(jobs), "stages": len(ran), "tasks": tasks,
               "failed_tasks": failed}
        out.update(self.store_totals(ran))
        return out

    def store_totals(self, stage_ids: list[int]) -> dict:
        try:
            from py4j.protocol import Py4JError

            store = self.sc._jsc.sc().statusStore()
            cpu_ns = run_ms = shuffle = 0
            for s in stage_ids:
                d = store.lastStageAttempt(s)
                cpu_ns += d.executorCpuTime()
                run_ms += d.executorRunTime()
                shuffle += d.shuffleWriteBytes()
        except (AttributeError, ImportError, Py4JError):
            return dict.fromkeys(STORE_KEYS, UNAVAILABLE)
        return {"executor_cpu_s": cpu_ns / 1e9, "executor_run_s": run_ms / 1e3,
                "shuffle_bytes": shuffle}
