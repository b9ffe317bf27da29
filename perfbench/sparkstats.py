"""Per-operation Spark engine counters from the application status store.

The UI is off, but the status store still records jobs and stages. Each
operation runs under its own job group, whose description every stage of
the operation carries, so its stages can be picked out afterwards.
"""

from __future__ import annotations

FIELDS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.shuffle_write_mb",
    "spark.shuffle_read_mb",
    "spark.input_mb",
    "spark.spill_mb",
)


class StageReader:
    """Reads stage metrics for one operation at a time, newest stages first,
    stopping at the first stage that an earlier operation already saw."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._seen_max = -1

    def begin(self, op_id: str) -> None:
        self._sc.setJobGroup(op_id, op_id)

    def totals(self, op_id: str) -> dict[str, float]:
        sc = self._sc
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        stages = store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        out = dict.fromkeys(FIELDS, 0.0)
        out["spark.jobs"] = float(len(sc.statusTracker().getJobIdsForGroup(op_id)))
        newest = self._seen_max
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._seen_max:
                break  # the list is ordered by stage id, newest first
            newest = max(newest, sid)
            desc = s.description()
            if s.status().toString() == "SKIPPED" or not (desc.isDefined() and desc.get() == op_id):
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["spark.executor_run_s"] += s.executorRunTime() / 1e3
            out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out["spark.shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
            out["spark.input_mb"] += s.inputBytes() / 1e6
            out["spark.spill_mb"] += s.diskBytesSpilled() / 1e6
        self._seen_max = newest
        return out
