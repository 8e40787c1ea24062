"""What Spark reports about one action: jobs, stages, tasks, shuffle and
spill bytes from the status store, and the SQL metrics of the executed
plan. Read from outside the engine, through the JVM gateway.
"""

from __future__ import annotations

import itertools

_GROUPS = itertools.count()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


class ActionProbe:
    """Brackets one Spark action.

    ``begin`` tags the action's jobs with a fresh job group and notes the
    next RDD id. ``end`` reads the jobs back. A stage the action skipped
    must reuse a shuffle written by this same action; a skipped stage
    whose RDDs are older than the action reused output of an earlier
    one, so the action did not compute its result (``warm_stages``).
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._group: str | None = None
        self._watermark = 0

    def begin(self, label: str) -> None:
        self._group = f"perfbench-{next(_GROUPS)}-{label}"
        self._sc.setJobGroup(self._group, label)
        self._watermark = self._jsc.newRddId()

    def end(self) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "task_failures": 0,
            "skipped_stages": 0, "warm_stages": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        }
        seen: set[int] = set()
        for job_id in self._sc.statusTracker().getJobIdsForGroup(self._group):
            out["jobs"] += 1
            for sid in _seq(store.job(job_id).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    out["skipped_stages"] += 1
                    if min(_seq(st.rddIds()), default=self._watermark) < self._watermark:
                        out["warm_stages"] += 1
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_failures"] += st.numFailedTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        return out


def plan_metrics(df) -> dict[str, int]:
    """SQL metrics of ``df``'s executed plan, summed per
    ``<node name>.<metric>`` (adaptive plans are walked through their
    final query stages). Call after an action on ``df`` itself."""
    out: dict[str, int] = {}

    def walk(node) -> None:
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = f"{node.nodeName().split(' ')[0]}.{kv._1()}"
            out[key] = out.get(key, 0) + int(kv._2().value())
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        elif "QueryStage" in name:
            walk(node.plan())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out
