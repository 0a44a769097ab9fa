"""Spark engine counts per op, read from outside the program.

Each op runs under its own job group; afterwards the status tracker
gives the jobs of that group plus the group-less jobs started since the
op began (jobs submitted from worker threads carry no group).  Stage
and task counts come from the tracked stage infos.  None of this needs
the Spark UI.
"""

from __future__ import annotations


class SparkCounter:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._seen_ungrouped: set[int] = set()

    def begin(self, op_id: int, kind: str) -> str:
        group = f"perfbench-{op_id}"
        self._seen_ungrouped = set(self._tracker.getJobIdsForGroup(None))
        self._sc.setJobGroup(group, kind)
        return group

    def end(self, group: str) -> dict[str, int]:
        self._sc.setJobGroup(None, None)
        jobs = set(self._tracker.getJobIdsForGroup(group))
        jobs |= set(self._tracker.getJobIdsForGroup(None)) - self._seen_ungrouped
        stages = tasks = failed = 0
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is None:
                    continue  # skipped stage: never submitted
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}
