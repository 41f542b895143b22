"""Spark stage counters per op, diffed from the live status store.

``AppStatusStore.stageList`` works with ``spark.ui.enabled=false``; the
list is serialized to JSON inside the JVM in one call, so a snapshot
costs one gateway round trip however many stages the store retains.
"""

from __future__ import annotations

import json

# counter name -> (StageData field, scale to the reported unit)
COUNTERS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks_done": ("numCompleteTasks", 1),
    "tasks_failed": ("numFailedTasks", 1),
    "tasks_killed": ("numKilledTasks", 1),
}
_KEEP = [field for field, _ in COUNTERS.values()] + ["status", "firstTaskLaunchedTime"]


class StatusStore:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._quantiles = sc._gateway.new_array(jvm.double, 0)
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
        )

    def snapshot(self) -> dict[tuple[int, int], dict]:
        stages = self._store.stageList(None, False, False, self._quantiles, None)
        rows = json.loads(self._mapper.writeValueAsString(stages))
        return {
            (r["stageId"], r["attemptId"]): {k: r.get(k) for k in _KEEP}
            for r in rows
        }


def diff(before: dict, after: dict) -> dict:
    """Counters accrued between two snapshots. A stage attempt new in
    ``after`` counts whole; one present in both counts its growth.
    Skipped stages ran nothing and are not counted."""
    out = {name: 0.0 for name in COUNTERS}
    out["stages"] = 0
    first_launch = None
    for key, row in after.items():
        if row["status"] == "SKIPPED":
            continue
        prev = before.get(key)
        for name, (fld, scale) in COUNTERS.items():
            out[name] += ((row[fld] or 0) - ((prev or {}).get(fld) or 0)) * scale
        if prev is None:
            out["stages"] += 1
            launched = row.get("firstTaskLaunchedTime")
            if launched is not None and (first_launch is None or launched < first_launch):
                first_launch = launched
    out["tasks"] = out["tasks_done"] + out["tasks_failed"] + out["tasks_killed"]
    out["first_task_launch"] = None if first_launch is None else first_launch / 1000.0
    return out
