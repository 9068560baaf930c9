"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side, around its calls into the
engine's public functions; inside the engine nothing is instrumented. Each
span sets the Spark job group ``<op>|<span>`` while it is open, so every job
the span launches is attributed to it in the Spark event log, which the run
owns and reads back after the session stops. Spans stay in memory until then.
"""

from __future__ import annotations

import functools
import json
import math
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: str
    parent: Span | None
    start: float
    end: float = 0.0
    kind: str = ""  # what an op span timed, e.g. a query name
    children: list[Span] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.wall - sum(c.wall for c in self.children)


class Tracer:
    """Records spans while ``enabled``; otherwise every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # set once the SparkContext exists
        self.spans: list[Span] = []
        self.current_op = "setup"
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{span.op}|{span.name}", span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(name, self.current_op, parent, time.time())
        if parent is not None:
            parent.children.append(span)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        try:
            yield
        finally:
            span.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    @contextmanager
    def op(self, op_id: str, kind: str):
        """One timed operation: a root span named ``op``."""
        self.current_op = op_id
        try:
            with self.span("op"):
                if self.enabled:
                    self._stack[-1].kind = kind
                yield
        finally:
            self.current_op = "setup"

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` by a copy that runs inside a span. Callers
        that look the function up on the module at call time see the copy."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)


def geomean_of_medians(samples: list[tuple[str, float]]) -> float:
    """Geometric mean over op kinds of each kind's median wall time, so every
    kind weighs the same however many samples it has and however long it
    runs (the TPC-H power-metric idea). One kind: its median."""
    by_kind: dict[str, list[float]] = {}
    for kind, wall in samples:
        by_kind.setdefault(kind, []).append(wall)
    return math.exp(statistics.fmean(math.log(statistics.median(w)) for w in by_kind.values()))


@dataclass
class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    jobs: dict[int, dict]
    stages: list[tuple[int, int]]  # (stage id, job id) of every submitted stage
    tasks: list[dict]  # SparkListenerTaskEnd events, with "job" added
    executions: dict[int, dict]

    @classmethod
    def read(cls, log_dir: str) -> EventLog:
        (name,) = os.listdir(log_dir)
        jobs, stage_job, stages, tasks, execs = {}, {}, [], [], {}
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "site": props.get("callSite.short", ""),
                        "execution": props.get("spark.sql.execution.id"),
                        "start": e["Submission Time"] / 1000,
                        "end": e["Submission Time"] / 1000,
                    }
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = e["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    sid = e["Stage Info"]["Stage ID"]
                    stages.append((sid, stage_job.get(sid)))
                elif kind == "SparkListenerTaskEnd":
                    e["job"] = stage_job.get(e["Stage ID"])
                    tasks.append(e)
                elif kind.endswith("SQLExecutionStart"):
                    execs[e["executionId"]] = {
                        "start": e["time"] / 1000,
                        "end": e["time"] / 1000,
                        "plan": e.get("physicalPlanDescription", ""),
                    }
                elif kind.endswith("SQLExecutionEnd") and e["executionId"] in execs:
                    execs[e["executionId"]]["end"] = e["time"] / 1000
        return cls(jobs, stages, tasks, execs)


# name -> unit, in the order the traced run reports them; the same list for
# every workload (a layer a workload leaves idle reads 0)
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.bucketed_prep_s": "s",
    "sources.land_s": "s",
    "sources.upsert_s": "s",
    "queries.build_ms": "ms",
    "queries.collect_ms": "ms",
    "operators.plan_s": "s",
    "ecom.models_s": "s",
    "ecom.quality_s": "s",
    "corpus_pipeline.barrier_s": "s",
    "corpus_pipeline.splits_s": "s",
    "corpus_pipeline.report_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.empty_task_frac": "fraction",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.driver_gap_s": "s",
    "output_files": "count",
    "driver.peak_rss_mb": "MB",
    "trace.op_geomean_s": "s",
    "trace.unattributed_frac": "fraction",
}

_WRITE_PATH = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)", re.S)
_CORPUS_SITE = re.compile(r"^(\w+) at \S*corpus_pipeline\.py:\d+$")


def _corpus_stage(job: dict, execution: dict | None) -> str | None:
    """Which corpus_run stage a job belongs to: writes by their output path,
    the other actions by their call site in corpus_pipeline.py."""
    if execution is not None:
        m = _WRITE_PATH.search(execution["plan"])
        if m:
            path = m.group(1).rstrip("/")
            if path.endswith("/_assigned"):
                return "barrier"
            if "/split=" in path:
                return "splits"
    m = _CORPUS_SITE.match(job["site"])
    if m:
        return {"first": "splits", "collect": "report"}.get(m.group(1))
    return None


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _task_sum(tasks: list[dict], fn) -> float:
    return sum(fn(t["Task Metrics"], t["Task Info"]) for t in tasks if t.get("Task Metrics"))


def per_layer(tracer: Tracer, log: EventLog) -> dict[str, float]:
    """Per-layer metrics of the measured ops, from the spans and the event
    log. Times and counts are means per op, so a layer's figures sum to the
    mean op wall time."""
    ops = [s for s in tracer.spans if s.name == "op"]
    n = len(ops)
    setup = {s.name: s.wall for s in tracer.spans if s.op == "setup"}
    span_total: dict[str, float] = {}
    for s in tracer.spans:
        if s.op != "setup":
            span_total[s.name] = span_total.get(s.name, 0.0) + s.self_time

    op_of_job = {jid: j["group"].split("|", 1)[0] for jid, j in log.jobs.items()}
    op_ids = {s.op for s in ops}
    jobs = {jid: j for jid, j in log.jobs.items() if op_of_job[jid] in op_ids}
    tasks = [t for t in log.tasks if t["job"] in jobs]

    gap = 0.0
    for s in ops:
        busy = _union([
            (max(j["start"], s.start), min(j["end"], s.end))
            for jid, j in jobs.items() if op_of_job[jid] == s.op and j["end"] > s.start
        ])
        gap += max(0.0, s.wall - busy)

    corpus = {"barrier": 0.0, "splits": 0.0, "report": 0.0}
    seen_exec = set()
    for j in jobs.values():
        if not j["group"].endswith("|corpus_pipeline.run"):
            continue
        eid = j["execution"]
        if eid is not None and int(eid) in seen_exec:
            continue
        execution = log.executions.get(int(eid)) if eid is not None else None
        stage = _corpus_stage(j, execution)
        if stage is None:
            continue
        if execution is not None:
            seen_exec.add(int(eid))
            corpus[stage] += execution["end"] - execution["start"]
        else:
            corpus[stage] += j["end"] - j["start"]

    def records(m: dict) -> int:
        return (
            m["Input Metrics"]["Records Read"]
            + m["Shuffle Read Metrics"]["Total Records Read"]
            + m["Output Metrics"]["Records Written"]
            + m["Shuffle Write Metrics"]["Shuffle Records Written"]
        )

    mb = 1e6
    per_op = lambda v: v / n if n else 0.0  # noqa: E731
    values = {
        "session.start_s": setup.get("session.start", 0.0),
        "sources.bucketed_prep_s": setup.get("sources.bucketed_prep", 0.0),
        "sources.land_s": per_op(span_total.get("sources.land", 0.0)),
        "sources.upsert_s": per_op(span_total.get("sources.upsert", 0.0)),
        "queries.build_ms": per_op(span_total.get("queries.build", 0.0)) * 1000,
        "queries.collect_ms": per_op(span_total.get("queries.collect", 0.0)) * 1000,
        "operators.plan_s": per_op(span_total.get("operators.plan", 0.0)),
        "ecom.models_s": per_op(span_total.get("ecom.models", 0.0)),
        "ecom.quality_s": per_op(span_total.get("ecom.quality", 0.0)),
        "corpus_pipeline.barrier_s": per_op(corpus["barrier"]),
        "corpus_pipeline.splits_s": per_op(corpus["splits"]),
        "corpus_pipeline.report_s": per_op(corpus["report"]),
        "spark.jobs": per_op(len(jobs)),
        "spark.stages": per_op(sum(1 for _, jid in log.stages if jid in jobs)),
        "spark.tasks": per_op(len(tasks)),
        "spark.empty_task_frac": (
            sum(1 for t in tasks if t.get("Task Metrics") and records(t["Task Metrics"]) == 0)
            / len(tasks) if tasks else 0.0
        ),
        "spark.task_run_s": per_op(_task_sum(tasks, lambda m, i: m["Executor Run Time"])) / 1000,
        "spark.task_cpu_s": per_op(_task_sum(tasks, lambda m, i: m["Executor CPU Time"])) / 1e9,
        "spark.gc_s": per_op(_task_sum(tasks, lambda m, i: m["JVM GC Time"])) / 1000,
        # launch to finish, minus the time the task body ran: scheduling,
        # deserialization, result serialization and result fetch
        "spark.scheduler_delay_s": per_op(_task_sum(
            tasks, lambda m, i: max(0, i["Finish Time"] - i["Launch Time"] - m["Executor Run Time"])
        )) / 1000,
        "spark.shuffle_write_mb": per_op(_task_sum(
            tasks, lambda m, i: m["Shuffle Write Metrics"]["Shuffle Bytes Written"])) / mb,
        "spark.shuffle_read_mb": per_op(_task_sum(
            tasks, lambda m, i: m["Shuffle Read Metrics"]["Local Bytes Read"]
            + m["Shuffle Read Metrics"]["Remote Bytes Read"])) / mb,
        "spark.spill_mb": per_op(_task_sum(tasks, lambda m, i: m["Disk Bytes Spilled"])) / mb,
        "spark.input_mb": per_op(_task_sum(tasks, lambda m, i: m["Input Metrics"]["Bytes Read"])) / mb,
        "spark.output_mb": per_op(_task_sum(
            tasks, lambda m, i: m["Output Metrics"]["Bytes Written"])) / mb,
        "spark.driver_gap_s": per_op(gap),
        "trace.op_geomean_s": geomean_of_medians([(s.kind, s.wall) for s in ops]) if ops else 0.0,
        # share of the op wall time outside every layer span
        "trace.unattributed_frac": per_op(sum(s.self_time / s.wall for s in ops if s.wall > 0)),
    }
    return values
