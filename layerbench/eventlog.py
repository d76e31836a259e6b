"""Reader for Spark's uncompressed JSON-lines event log, and the attribution
of its jobs and stages to the engine's layers.

Jobs map to a traced call through the ``spark.job.description`` property
the benchmark sets around each public call. Stages map to layers by their
position relative to the plan's exchanges, read from task metrics:

* ``route``: writes an exchange and reads none (scan + routing);
* ``decode``: reads an exchange and writes another (the decode pass);
* ``reassemble``: reads an exchange and writes none (reassembly + sink);
* ``other``: neither (file listing, schema reads, metadata jobs).
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    attempt: int = 0
    rdd_names: list = field(default_factory=list)
    submit: float | None = None  # epoch seconds
    complete: float | None = None
    tasks: list = field(default_factory=list)  # per-task metric dicts

    @property
    def writes_shuffle(self) -> bool:
        return any(t["type"] == "ShuffleMapTask" for t in self.tasks)

    @property
    def reads_shuffle(self) -> bool:
        return (any(t["shuffle_read_records"] or t["shuffle_read_bytes"] for t in self.tasks)
                or "ShuffledRowRDD" in self.rdd_names)

    @property
    def layer(self) -> str:
        if self.writes_shuffle:
            return "decode" if self.reads_shuffle else "route"
        return "reassemble" if self.reads_shuffle else "other"

    def total(self, key: str) -> float:
        return sum(t[key] for t in self.tasks)

    @property
    def skew(self) -> float:
        """Longest task run time over the median one."""
        runs = [t["run_s"] for t in self.tasks]
        med = statistics.median(runs) if runs else 0.0
        return max(runs) / med if med > 0 else 1.0


@dataclass
class Job:
    job_id: int
    submit: float
    complete: float | None = None
    stage_ids: list = field(default_factory=list)
    props: dict = field(default_factory=dict)

    @property
    def description(self) -> str | None:
        return self.props.get("spark.job.description")

    @property
    def execution_id(self) -> int | None:
        v = self.props.get("spark.sql.execution.id")
        return int(v) if v not in (None, "") else None


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # job id -> Job
    stages: dict = field(default_factory=dict)  # (stage id, attempt) -> Stage
    plans: dict = field(default_factory=dict)  # execution id -> final plan info
    plan_text: dict = field(default_factory=dict)  # execution id -> plan string

    def jobs_with(self, description: str) -> list[Job]:
        return [j for _, j in sorted(self.jobs.items()) if j.description == description]

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        """Stages that ran (have tasks) under the given jobs."""
        ids = {sid for j in jobs for sid in j.stage_ids}
        return [s for (sid, _), s in sorted(self.stages.items())
                if sid in ids and s.tasks]

    def exchanges(self, jobs: list[Job]) -> int:
        """Exchange nodes in the final executed plans of the jobs' SQL
        executions."""
        execs = {j.execution_id for j in jobs} - {None}
        return sum(_count_nodes(self.plans.get(e), "Exchange") for e in execs)


def _count_nodes(plan: dict | None, name: str) -> int:
    if not plan:
        return 0
    own = 1 if plan.get("nodeName") == name else 0
    return own + sum(_count_nodes(c, name) for c in plan.get("children") or [])


def _task(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "type": ev.get("Task Type", ""),
        "run_s": (m.get("Executor Run Time") or 0) / 1000.0,
        "gc_s": (m.get("JVM GC Time") or 0) / 1000.0,
        "shuffle_read_bytes": (sr.get("Remote Bytes Read") or 0) + (sr.get("Local Bytes Read") or 0),
        "shuffle_read_records": sr.get("Total Records Read") or 0,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written") or 0,
        "shuffle_write_records": sw.get("Shuffle Records Written") or 0,
        "spill_bytes": (m.get("Memory Bytes Spilled") or 0) + (m.get("Disk Bytes Spilled") or 0),
    }


def parse(lines) -> EventLog:
    """Build an EventLog from an iterable of JSON lines."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue  # a torn last line of an unfinished log
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"], submit=(ev.get("Submission Time") or 0) / 1000.0,
                stage_ids=list(ev.get("Stage IDs") or []),
                props=dict(ev.get("Properties") or {}))
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.complete = (ev.get("Completion Time") or 0) / 1000.0
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev.get("Stage Info") or {}
            key = (info.get("Stage ID"), info.get("Stage Attempt ID", 0))
            st = log.stages.setdefault(key, Stage(stage_id=key[0], attempt=key[1]))
            st.rdd_names = [r.get("Name", "") for r in info.get("RDD Info") or []] or st.rdd_names
            if info.get("Submission Time"):
                st.submit = info["Submission Time"] / 1000.0
            if info.get("Completion Time"):
                st.complete = info["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            key = (ev.get("Stage ID"), ev.get("Stage Attempt ID", 0))
            st = log.stages.setdefault(key, Stage(stage_id=key[0], attempt=key[1]))
            st.tasks.append(_task(ev))
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            eid = ev.get("executionId")
            if ev.get("sparkPlanInfo"):
                log.plans[eid] = ev["sparkPlanInfo"]
            if ev.get("physicalPlanDescription"):
                log.plan_text[eid] = ev["physicalPlanDescription"]
    return log


def load(path: str) -> EventLog:
    """Parse one event log file, or a rolling log directory (its
    ``events_<n>_*`` files in order)."""
    if not os.path.isdir(path):
        with open(path, encoding="utf-8") as f:
            return parse(f)
    parts = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                   key=lambda f: int(f.split("_")[1]))

    def lines():
        for part in parts:
            with open(os.path.join(path, part), encoding="utf-8") as f:
                yield from f

    return parse(lines())


def stage_summary(stages: list[Stage]) -> dict:
    """Per-layer stage windows and task totals of one traced call."""
    out: dict = {"layers": {}, "tasks": 0, "gc_s": 0.0, "shuffle_write_bytes": 0,
                 "shuffle_records": 0, "spill_bytes": 0}
    for st in stages:
        lay = out["layers"].setdefault(st.layer, {"windows": [], "run_s": 0.0, "skew": 1.0})
        lay["windows"].append((st.submit or 0.0, st.complete or 0.0))
        lay["run_s"] += st.total("run_s")
        lay["skew"] = max(lay["skew"], st.skew)
        out["tasks"] += len(st.tasks)
        out["gc_s"] += st.total("gc_s")
        out["shuffle_write_bytes"] += st.total("shuffle_write_bytes")
        out["shuffle_records"] += st.total("shuffle_write_records")
        out["spill_bytes"] += st.total("spill_bytes")
    return out


def checkpoint_call_site(log: EventLog, job: Job) -> str:
    """Which ``run_with_checkpoint`` statement launched a job: the spans
    write, the metrics write, or the per-bucket summary collect. The job's
    execution id leads to its SQL plan, whose write target names the
    statement."""
    text = log.plan_text.get(job.execution_id) or ""
    plan = json.dumps(log.plans.get(job.execution_id) or {})
    if "/spans/bucket=" in text or "/spans/bucket=" in plan:
        return "spans_write"
    if "/metrics/bucket=" in text or "/metrics/bucket=" in plan:
        return "metrics_write"
    return "summary" if job.execution_id is not None else "other"
