"""Spans and Spark counters, read from outside the engine.

Nothing here runs inside ``pdal_spark``: a span is the wall time of one
action the benchmark starts, and every counter comes from Spark's own
bookkeeping after that action ended -- the SQL metrics of the executed
plan and the per-task records of the application status store.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans kept in memory for one run, written as JSON when it ends."""

    run_id: str
    spans: list[Span] = field(default_factory=list)

    def record(self, name: str, start: float, end: float, parent: str | None = None) -> Span:
        span = Span(name, start, end, parent, self.run_id)
        self.spans.append(span)
        return span

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def prefix_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time of each prefix span: its duration minus the previous one's.

    Span i times an action over the pipeline's first i+1 layers, so the
    difference is what layer i added. The self times telescope to the
    last span, which is the traced rep time.
    """
    out: dict[str, float] = {}
    prev = 0.0
    for s in spans:
        out[s.name] = s.seconds - prev
        prev = s.seconds
    return out


# ---------------------------------------------------------------------------
# executed-plan SQL metrics
# ---------------------------------------------------------------------------


def walk(plan):
    """(class name, node) for every executed node of a plan.

    Descends AdaptiveSparkPlan into its final plan and every query stage
    into the plan it ran; a reused exchange is skipped because its
    metrics belong to the exchange it reuses.
    """
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "ReusedExchangeExec":
            continue
        yield cls, node
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            children = node.children().iterator()
            while children.hasNext():
                todo.append(children.next())


def node_metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def plan_nodes(plan) -> list[tuple[str, dict[str, int]]]:
    """(node name, SQL metric values) for every executed node of a plan."""
    return [(node.nodeName(), node_metrics(node)) for _, node in walk(plan)]


def metric_sum(nodes, node_names: tuple[str, ...], metric: str) -> int:
    """Sum of one SQL metric over the nodes whose name starts with one of ``node_names``."""
    return sum(m.get(metric, 0) for n, m in nodes if n.startswith(node_names))


# plan nodes that hand rows to Python workers
PY_NODES = ("MapInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas",
            "ArrowEvalPython", "BatchEvalPython", "PythonMapInArrow")


def plan_counters(nodes) -> dict[str, float]:
    """Exchange, Python-boundary and scan counters of one executed plan."""
    ex = ("Exchange",)  # shuffle exchanges; broadcasts are "BroadcastExchange"
    return {
        "exchange.shuffle_bytes": metric_sum(nodes, ex, "shuffleBytesWritten"),
        "exchange.shuffle_records": metric_sum(nodes, ex, "shuffleRecordsWritten"),
        "exchange.fetch_wait_ms": metric_sum(nodes, ex, "fetchWaitTime"),
        "pyboundary.total_ms": metric_sum(nodes, PY_NODES, "pythonTotalTime"),
        "pyboundary.boot_ms": metric_sum(nodes, PY_NODES, "pythonBootTime"),
        "pyboundary.init_ms": metric_sum(nodes, PY_NODES, "pythonInitTime"),
        "pyboundary.bytes_sent": metric_sum(nodes, PY_NODES, "pythonDataSent"),
        "pyboundary.bytes_received": metric_sum(nodes, PY_NODES, "pythonDataReceived"),
        "pyboundary.rows_received": metric_sum(nodes, PY_NODES, "pythonNumRowsReceived"),
        "io.scan_bytes": metric_sum(nodes, ("Scan parquet",), "filesSize"),
    }


def cogroup_right_records(plan) -> int:
    """Rows the right-hand (candidate) side shuffles into a pandas cogroup."""
    for cls, node in walk(plan):
        if cls == "FlatMapCoGroupsInPandasExec":
            for _, below in walk(node.right()):
                if below.nodeName() == "Exchange":
                    return node_metrics(below).get("shuffleRecordsWritten", 0)
    return 0


# ---------------------------------------------------------------------------
# scheduler counters (status store, works with the UI off)
# ---------------------------------------------------------------------------


@dataclass
class StageTasks:
    stage_id: int
    durations_s: list[float]
    disk_spill: int


def group_stages(sc, group: str) -> list[StageTasks]:
    """Tasks of every stage that ran for the jobs of one job group."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = []
    seen = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            stage = tracker.getStageInfo(sid)
            if stage is None or stage.numCompletedTasks == 0:
                continue  # skipped: its shuffle output was reused
            durs, spill = [], 0
            it = store.taskList(sid, stage.currentAttemptId, 1 << 20).iterator()
            while it.hasNext():
                t = it.next()
                d = t.duration()
                if d.isDefined():
                    durs.append(d.get() / 1000.0)
                tm = t.taskMetrics()
                if tm.isDefined():
                    spill += int(tm.get().diskBytesSpilled())
            if durs:
                out.append(StageTasks(sid, durs, spill))
    return out


def stage_counters(stages: list[StageTasks]) -> dict[str, float]:
    """Straggler signal: max over median task time in the slowest stage."""
    if not stages:
        return {"stage.task_skew": 0.0, "stage.max_task_s": 0.0, "stage.tasks": 0,
                "exchange.spill_bytes": 0}
    slow = max(stages, key=lambda s: max(s.durations_s))
    med = statistics.median(slow.durations_s)
    top = max(slow.durations_s)
    return {
        "stage.task_skew": top / med if med > 0 else 1.0,
        "stage.max_task_s": top,
        "stage.tasks": sum(len(s.durations_s) for s in stages),
        "exchange.spill_bytes": sum(s.disk_spill for s in stages),
    }

