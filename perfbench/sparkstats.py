"""Counters read from Spark itself: StatusTracker job/stage/task counts per
job group, and the SQL metrics of an executed physical plan.

Both work with the UI disabled. The plan walk descends through AQE
(AdaptiveSparkPlanExec, query stages, reused exchanges) and visits each
physical node once, so an exchange reused by two branches is counted once.
"""

from __future__ import annotations

from dataclasses import dataclass

MB = 1 << 20


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


def job_counts(sc, group: str) -> JobCounts:
    """Jobs started under `group`, with the stages and tasks they ran.
    Stages AQE skipped (never submitted) have no info and are not counted."""
    st = sc.statusTracker()
    out = JobCounts()
    stage_ids: set[int] = set()
    for jid in st.getJobIdsForGroup(group):
        out.jobs += 1
        info = st.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        info = st.getStageInfo(sid)
        if info is not None:
            out.stages += 1
            out.tasks += info.numCompletedTasks
            out.failed_tasks += info.numFailedTasks
    return out


@dataclass
class PlanMetrics:
    scan_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    broadcast_mb: float = 0.0
    python_boot_s: float = 0.0
    python_init_s: float = 0.0
    python_total_s: float = 0.0


# SQL metric key -> PlanMetrics field, for byte-valued metrics
_BYTES = {
    "filesSize": "scan_mb",
    "shuffleBytesWritten": "shuffle_write_mb",
    "spillSize": "spill_mb",
}
_PYTHON_TIMES = {
    "pythonBootTime": "python_boot_s",
    "pythonInitTime": "python_init_s",
    "pythonTotalTime": "python_total_s",
}
_WANTED = {**_BYTES, **_PYTHON_TIMES}


def _value(node, key: str) -> float:
    """A node's metric in bytes or seconds; 0 when the node lacks it."""
    opt = node.metrics().get(key)
    if not opt.isDefined():
        return 0.0
    m = opt.get()
    scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(m.metricType(), 1.0 / MB)
    return m.value() * scale


def _children(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    out = [kids.apply(i) for i in range(kids.size())]
    subs = node.subqueries()
    out.extend(subs.apply(i) for i in range(subs.size()))
    return out


def plan_metrics(df, jvm) -> PlanMetrics:
    """SQL metrics of `df`'s executed plan, read after its action ran.
    Python-node times are summed over tasks, so they can exceed wall time."""
    out = PlanMetrics()
    seen: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    ident = jvm.java.lang.System.identityHashCode
    while stack:
        node = stack.pop()
        key = ident(node)
        if key in seen:
            continue
        seen.add(key)
        keys = node.metrics().keySet()
        wanted = _WANTED
        if node.getClass().getSimpleName() == "BroadcastExchangeExec":
            wanted = {**_WANTED, "dataSize": "broadcast_mb"}
        for metric, attr in wanted.items():
            if keys.contains(metric):
                setattr(out, attr, getattr(out, attr) + _value(node, metric))
        stack.extend(_children(node))
    return out
