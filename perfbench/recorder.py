"""Layer spans read from Spark's own status store.

Each call into a layer's public function runs under its own job group
(``sc.setJobGroup``). After the call the recorder drains the listener
bus, then reads that group's jobs and completed stages from the JVM
status store (it works with ``spark.ui.enabled=false``). Row counts
inside a layer come from executed-plan SQLMetrics, walked the way
``shuffle_audit.py`` walks them, plus the cached plans of persisted
frames that walk does not enter.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from shuffle_audit import _metric, _walk

MB = 1024.0 * 1024.0


@dataclass
class Span:
    """One layer call: its wall time, the value it returned and, when
    traced, the summed stage metrics of its job group."""

    layer: str
    wall_s: float
    value: object
    stats: dict = field(default_factory=dict)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start_ms, end_ms] intervals."""
    total = 0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


class Recorder:
    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    def run(self, layer: str, fn) -> Span:
        """Call ``fn`` as one span of ``layer``; with tracing on, tag its
        jobs and read their stages once it returns."""
        if not self.traced:
            t0 = time.perf_counter()
            value = fn()
            return Span(layer, time.perf_counter() - t0, value)
        self._n += 1
        group = f"perfbench-{self._n}-{layer}"
        self.sc.setJobGroup(group, layer)
        try:
            t0 = time.perf_counter()
            value = fn()
            wall = time.perf_counter() - t0
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return Span(layer, wall, value, self._group_stats(group, wall))

    def _group_stats(self, group: str, wall: float) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stats = dict.fromkeys(("task_s", "cpu_s", "shuffle_mb"), 0.0)
        stats.update(jobs=len(jobs), stages=0, tasks=0, output_records=0)
        intervals = []
        stage_ids = set()
        for job in jobs:
            stage_ids.update(tracker.getJobInfo(job).stageIds)
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            stats["stages"] += 1
            stats["tasks"] += st.numCompleteTasks()
            stats["task_s"] += st.executorRunTime() / 1000.0
            stats["cpu_s"] += st.executorCpuTime() / 1e9
            stats["shuffle_mb"] += st.shuffleWriteBytes() / MB
            stats["output_records"] += st.outputRecords()
            intervals.append(
                (
                    st.submissionTime().get().getTime(),
                    st.completionTime().get().getTime(),
                )
            )
        stats["sched_gap_s"] = max(0.0, wall - _union_s(intervals))
        return stats


def plan_nodes(df):
    """Every node of ``df``'s executed plan, including the plans that
    built its persisted inputs (InMemoryTableScan relations)."""
    todo = [df._jdf.queryExecution().executedPlan()]
    seen = set()
    while todo:
        for node, cls in _walk(todo.pop()):
            if node.id() in seen:
                continue
            seen.add(node.id())
            yield node, cls
            if cls == "InMemoryTableScanExec":
                todo.append(node.relation().cachedPlan())


def windfield_counts(df) -> dict:
    """Pairs evaluated by the Holland kernel in ``df``'s executed plan —
    rows into the ``explode(array(wind))`` fence that evaluates it once
    per bbox-surviving pair — and the share of them the threshold
    filter above the fence keeps."""
    evaluated = kept = 0
    for node, cls in plan_nodes(df):
        if cls != "FilterExec":
            continue
        child = node.child()
        if child.getClass().getSimpleName() != "GenerateExec":
            continue
        out = child.generatorOutput()
        if out.size() == 1 and out.apply(0).name() == "wind_ms":
            evaluated += _metric(child, "numOutputRows")
            kept += _metric(node, "numOutputRows")
    return {
        "windfield.pairs_evaluated": int(evaluated),
        "windfield.kept_ratio": kept / evaluated if evaluated else 0.0,
    }


def cross_join_rows(df) -> int:
    """Rows out of the unconditioned nested-loop joins in ``df``'s plan
    (the forecast pipeline's munis × track-points K4 join)."""
    return int(
        sum(
            _metric(node, "numOutputRows")
            for node, cls in plan_nodes(df)
            if cls == "BroadcastNestedLoopJoinExec" and node.condition().isEmpty()
        )
    )
