"""Spans around the package's public calls, and the fold of Spark's event
log into per-layer figures.

A traced run sets the Spark job group to ``"<op label>|<call name>"``
around every public call, so each job in the event log maps back to the
op and call that started it. Spans are kept in memory; the event log is
read once, after the session has stopped and flushed it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Spark 4.1 PythonSQLMetrics names, recorded per task on every Python
# runner plan node (MapInPandas, MapInArrow, FlatMapGroupsInPandas, ...).
PY_RUN_MS = "time to run Python workers"
PY_SENT_B = "data sent to Python workers"
PY_RECV_B = "data returned from Python workers"
OUT_ROWS = "number of output rows"
PY_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas")


@dataclass
class Span:
    op: str
    name: str
    start: float  # epoch seconds, the clock Spark's event timestamps use
    end: float


class NullTracer:
    """Tracing off: no job groups, no spans."""

    @contextmanager
    def op(self, label: str):
        yield

    @contextmanager
    def call(self, name: str):
        yield


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._op = ""

    @contextmanager
    def op(self, label: str):
        self._op = label
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(label, "", t0, time.time()))
            self._op = ""

    @contextmanager
    def call(self, name: str):
        self.sc.setJobGroup(f"{self._op}|{name}", name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(self._op, name, t0, time.time()))
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def op_span(self, label: str) -> Span:
        return next(s for s in self.spans if s.op == label and not s.name)

    def call_span(self, label: str, name: str) -> Span | None:
        return next((s for s in self.spans if s.op == label and s.name == name), None)


@dataclass
class Stage:
    submit: float = 0.0
    complete: float = 0.0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: float = 0.0
    shuffle_read_b: float = 0.0
    spill_b: float = 0.0
    accums: list = field(default_factory=list)  # (accumulator id, name, task update)


class EventLog:
    """The parts of one application's event log the fold needs."""

    def __init__(self, path: str):
        self.node_of: dict[int, str] = {}  # SQL accumulator id -> plan node name
        self.jobs: dict[int, tuple[str, list[int]]] = {}  # job id -> (job group, stage ids)
        self.job_times: dict[int, list[float]] = {}  # job id -> [submit, complete], epoch s
        self.stages: dict[int, Stage] = {}
        with open(path) as fh:
            for line in fh:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        ev = e["Event"]
        if ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            self._walk_plan(e["sparkPlanInfo"])
        elif ev == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            self.jobs[e["Job ID"]] = (group, list(e["Stage IDs"]))
            self.job_times[e["Job ID"]] = [e.get("Submission Time", 0) / 1e3, 0.0]
        elif ev == "SparkListenerJobEnd":
            self.job_times.setdefault(e["Job ID"], [0.0, 0.0])[1] = e.get("Completion Time", 0) / 1e3
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], Stage())
            st.submit = info.get("Submission Time", 0) / 1e3
            st.complete = info.get("Completion Time", 0) / 1e3
        elif ev == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], Stage())
            st.tasks += 1
            m = e.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_b += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    st.accums.append((a["ID"], a.get("Name"), float(a.get("Update") or 0)))

    def _walk_plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.node_of[m["accumulatorId"]] = node["nodeName"]
        for child in node.get("children", []):
            self._walk_plan(child)

    def stages_of(self, label: str) -> list[Stage]:
        """Stages that ran for jobs started inside op ``label``; stages
        AQE skipped have no submission time and are left out."""
        ids = {sid for group, sids in self.jobs.values() if group.split("|")[0] == label for sid in sids}
        return [self.stages[i] for i in sorted(ids) if i in self.stages and self.stages[i].submit]

    def jobs_of(self, label: str) -> list[int]:
        return [jid for jid, (group, _) in self.jobs.items() if group.split("|")[0] == label]

    def nodes(self, st: Stage) -> set[str]:
        return {self.node_of[i] for i, _, _ in st.accums if i in self.node_of}

    def node_metric(self, stages: list[Stage], node: str, name: str) -> float:
        return sum(v for st in stages for i, n, v in st.accums if n == name and self.node_of.get(i) == node)


def union_s(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of (start, end) intervals, optionally clipped."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold_op(log: EventLog, span: Span) -> dict:
    """Spark-runtime figures of one op: its stages' task metrics, the
    Python-runner SQL metrics, and the op wall split into stage time and
    driver-only time."""
    stages = log.stages_of(span.op)
    jobs = log.jobs_of(span.op)
    wall = span.end - span.start
    in_stages = union_s([(st.submit, st.complete) for st in stages], span.start, span.end)
    driver_only = wall - in_stages
    # an independent split of the same wall: the time outside every job
    # (before the first, between jobs, after the last) is the driver's
    # own; time inside a job but in none of its stages is in neither part
    outside_jobs = wall - union_s([tuple(log.job_times[j]) for j in jobs], span.start, span.end)
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(st.tasks for st in stages),
        "spark.executor_run_s": sum(st.run_ms for st in stages) / 1e3,
        "spark.executor_cpu_s": sum(st.cpu_ns for st in stages) / 1e9,
        "spark.gc_s": sum(st.gc_ms for st in stages) / 1e3,
        "spark.shuffle_write_mb": sum(st.shuffle_write_b for st in stages) / 1e6,
        "spark.shuffle_read_mb": sum(st.shuffle_read_b for st in stages) / 1e6,
        "spark.spill_mb": sum(st.spill_b for st in stages) / 1e6,
        "spark.driver_only_s": driver_only,
        "python.worker_s": sum(log.node_metric(stages, n, PY_RUN_MS) for n in PY_NODES) / 1e3,
        "arrow.to_python_mb": sum(log.node_metric(stages, n, PY_SENT_B) for n in PY_NODES) / 1e6,
        "arrow.from_python_mb": sum(log.node_metric(stages, n, PY_RECV_B) for n in PY_NODES) / 1e6,
        "cover_ratio": (outside_jobs + in_stages) / wall if wall > 0 else 1.0,
        "last_stage_end": max((st.complete for st in stages), default=span.start),
    }


def node_stages(log: EventLog, label: str, node: str) -> list[Stage]:
    """Op ``label``'s stages that ran plan node ``node`` (e.g. the
    MapInPandas of a partial build), in stage-id order."""
    return [st for st in log.stages_of(label) if node in log.nodes(st)]


def stages_s(stages: list[Stage]) -> float:
    """Length of the union of the stages' intervals."""
    return union_s([(st.submit, st.complete) for st in stages])


def node_stage_s(log: EventLog, label: str, node: str) -> float:
    return stages_s(node_stages(log, label, node))
