"""Execution-layer metrics from a Spark event log.

The session must log uncompressed and without rolling
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=
false``), so the log is one JSON document per line. Every job carries
the local properties of the thread that submitted it, which is how a
job is attributed: ``spark.jobGroup.id`` names the benchmark operation,
``perfbench.phase`` says whether it ran while the query was being
built or while its result was collected, and ``perfbench.family``
names the innermost operator family whose public function was on the
stack.

Heap peaks come from the per-stage executor metrics, which the session
logs with ``spark.eventLog.logStageExecutorMetrics=true`` and fills in
only when it polls them (``spark.executor.metrics.pollingInterval``).
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"
PHASE = "perfbench.phase"
FAMILY = "perfbench.family"
SQL_ID = "spark.sql.execution.id"
SQL_PREFIX = "org.apache.spark.sql.execution.ui."

STAGE_FIELDS = ("tasks", "task_cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "result_bytes")
# stage field -> executor metric whose peak it holds; maxed, not summed
PEAK_FIELDS = {"peak_jvm_heap_bytes": "JVMHeapMemory",
               "peak_onheap_storage_bytes": "OnHeapStorageMemory"}


@dataclass
class Job:
    job_id: int
    group: str | None
    phase: str | None
    family: str | None
    sql_id: int | None
    stage_ids: list[int]


@dataclass
class StageTotals:
    stage_id: int
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    peak_jvm_heap_bytes: int = 0
    peak_onheap_storage_bytes: int = 0
    duration_s: float = 0.0

    def add_task(self, m: dict) -> None:
        self.tasks += 1
        self.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        self.gc_s += m.get("JVM GC Time", 0) / 1e3
        read = m.get("Shuffle Read Metrics", {})
        self.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
        self.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        self.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        self.result_bytes += m.get("Result Size", 0)

    def add_peaks(self, executor_metrics: dict) -> None:
        for name, metric in PEAK_FIELDS.items():
            setattr(self, name, max(getattr(self, name), executor_metrics.get(metric, 0)))


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageTotals] = field(default_factory=dict)
    # SQL execution id -> physical operator names of its last (final,
    # after adaptive re-planning) plan, in pre-order
    plans: dict[int, list[str]] = field(default_factory=dict)

    def stage_job(self) -> dict[int, int]:
        """Executed stage -> the first job that lists it."""
        owner: dict[int, int] = {}
        for job_id in sorted(self.jobs):
            for s in self.jobs[job_id].stage_ids:
                owner.setdefault(s, job_id)
        return owner


def _plan_nodes(info: dict) -> list[str]:
    out, todo = [], [info]
    while todo:
        node = todo.pop()
        out.append(node.get("nodeName", "?"))
        todo.extend(reversed(node.get("children", [])))
    return out


def parse(path: str) -> EventLog:
    """Read one uncompressed event log file."""
    log = EventLog()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sql_id = props.get(SQL_ID)
                log.jobs[ev["Job ID"]] = Job(
                    job_id=ev["Job ID"], group=props.get(GROUP), phase=props.get(PHASE),
                    family=props.get(FAMILY),
                    sql_id=int(sql_id) if sql_id not in (None, "") else None,
                    stage_ids=list(ev.get("Stage IDs", [])))
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = log.stages.setdefault(sid, StageTotals(sid))
                st.add_task(ev.get("Task Metrics") or {})
            elif kind == "SparkListenerStageExecutorMetrics":
                sid = ev["Stage ID"]
                log.stages.setdefault(sid, StageTotals(sid)).add_peaks(ev.get("Executor Metrics") or {})
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = log.stages.setdefault(info["Stage ID"], StageTotals(info["Stage ID"]))
                if info.get("Completion Time") and info.get("Submission Time"):
                    st.duration_s += (info["Completion Time"] - info["Submission Time"]) / 1e3
            elif kind in (SQL_PREFIX + "SparkListenerSQLExecutionStart",
                          SQL_PREFIX + "SparkListenerSQLAdaptiveExecutionUpdate"):
                if ev.get("sparkPlanInfo"):
                    log.plans[ev["executionId"]] = _plan_nodes(ev["sparkPlanInfo"])
    return log


def op_rows(log: EventLog) -> dict[str, dict]:
    """Per job group: job/stage counts, summed stage metrics, the
    physical operators of every SQL execution the group ran, and the
    stage list itself, so each operation's plan operators sit next to
    its stage costs."""
    owner = log.stage_job()
    rows: dict[str, dict] = {}
    sql_seen: dict[str, set] = defaultdict(set)
    for job in log.jobs.values():
        row = rows.setdefault(job.group or "", {
            "jobs": 0, "build_jobs": 0, "stages": 0, **{k: 0 for k in (*STAGE_FIELDS, *PEAK_FIELDS)},
            "operators": Counter(), "stage_rows": []})
        row["jobs"] += 1
        row["build_jobs"] += job.phase == "build"
        if job.sql_id is not None and job.sql_id not in sql_seen[job.group or ""]:
            sql_seen[job.group or ""].add(job.sql_id)
            row["operators"].update(log.plans.get(job.sql_id, []))
        for sid in job.stage_ids:
            st = log.stages.get(sid)
            if st is None or owner.get(sid) != job.job_id:
                continue  # skipped, or executed under an earlier job
            row["stages"] += 1
            for k in STAGE_FIELDS:
                row[k] += getattr(st, k)
            for k in PEAK_FIELDS:
                row[k] = max(row[k], getattr(st, k))
            row["stage_rows"].append({
                "stage_id": sid, "job_id": job.job_id, "phase": job.phase,
                "family": job.family, "duration_s": round(st.duration_s, 6),
                **{k: round(getattr(st, k), 6) for k in (*STAGE_FIELDS, *PEAK_FIELDS)}})
    for row in rows.values():
        row["operators"] = dict(row["operators"])
    return rows


def family_jobs(log: EventLog) -> Counter:
    """Jobs submitted while each operator family was innermost."""
    return Counter(j.family for j in log.jobs.values() if j.family)


def totals(rows: dict[str, dict], groups: set[str]) -> dict[str, float]:
    """exec.* metrics summed over the given groups of ``op_rows``, and
    the heap peaks, maxed over them."""
    out = {"exec.jobs": 0, "exec.stages": 0, "exec.tasks": 0, "exec.task_cpu_s": 0.0,
           "exec.gc_s": 0.0, "exec.shuffle_read_bytes": 0, "exec.shuffle_write_bytes": 0,
           "exec.spill_bytes": 0, "exec.result_bytes": 0,
           **{"exec." + k: 0 for k in PEAK_FIELDS}}
    for g in groups:
        row = rows.get(g)
        if row is None:
            continue
        out["exec.jobs"] += row["jobs"]
        out["exec.stages"] += row["stages"]
        for k in STAGE_FIELDS:
            out["exec." + k] += row[k]
        for k in PEAK_FIELDS:
            out["exec." + k] = max(out["exec." + k], row[k])
    return out
