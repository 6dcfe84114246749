"""Per-span rollups from Spark's JSON event log.

Each job carries the job group of the span that launched it
(``spark.jobGroup.id``). A span's rollup covers the jobs of the span and
of its descendants:

- ``jobs``, ``tasks``
- ``driver_s``: span wall minus the part of it that its jobs cover
- ``cpu_s``: executor CPU time of the tasks
- ``python_run_s``, ``python_bytes_sent``: the "time to run Python
  workers" and "data sent to Python workers" SQL metrics
- ``shuffle_bytes``: shuffle bytes written
- ``slot_idle_ratio``: 1 − Σ task run time / (covered wall × cores)

Stages are also attributed to the operators that ran in them, by the RDD
scope names in the log (``MapInPandas``, ``FlatMapGroupsInPandas``,
``Exchange``, ``Window`` ...).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

from spans import Span

_PY_RUN = "time to run Python workers"          # ms
_PY_START = "time to start Python workers"      # ms
_PY_SENT = "data sent to Python workers"        # bytes
# scope names that say nothing about the operator
_GENERIC_SCOPES = ("WholeStageCodegen", "mapPartitions", "map", "parallelize")


@dataclass
class StageStats:
    name: str = ""
    scopes: tuple[str, ...] = ()
    tasks: int = 0
    run_ms: float = 0.0
    task_ms: list[float] = field(default_factory=list)
    task_py_ms: list[float] = field(default_factory=list)
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    spill_bytes: float = 0.0
    shuffle_bytes: float = 0.0
    output_bytes: float = 0.0
    py_run_ms: float = 0.0
    py_start_ms: float = 0.0
    py_sent: float = 0.0


@dataclass
class JobStats:
    group: str | None
    submit_ms: float
    end_ms: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, JobStats]
    stages: dict[int, StageStats]


def find_log(log_dir: str) -> str:
    """The single, uncompressed, non-rolling application log Spark wrote
    into ``log_dir`` (a rolling log would be an ``eventlog_v2_*`` dir)."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1 or os.path.isdir(os.path.join(log_dir, names[0])):
        raise RuntimeError(f"expected one event log file in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def _scopes(stage_info: dict) -> tuple[str, ...]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            name = json.loads(scope)["name"].strip()
            if not name.startswith(_GENERIC_SCOPES):
                names.add(name.split(" (")[0])
    return tuple(sorted(names))


def parse(path: str) -> EventLog:
    jobs: dict[int, JobStats] = {}
    stages: dict[int, StageStats] = defaultdict(StageStats)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = JobStats(
                    group=props.get("spark.jobGroup.id"),
                    submit_ms=ev["Submission Time"],
                    stages=list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages[info["Stage ID"]]
                st.name = info["Stage Name"]
                st.scopes = _scopes(info)
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                tm = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.run_ms += tm.get("Executor Run Time", 0)
                st.task_ms.append(tm.get("Executor Run Time", 0))
                st.cpu_ns += tm.get("Executor CPU Time", 0)
                st.gc_ms += tm.get("JVM GC Time", 0)
                st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                st.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.output_bytes += (tm.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
                py_ms = 0.0
                for acc in ev["Task Info"].get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if name == _PY_RUN:
                        py_ms = float(upd)
                    elif name == _PY_START:
                        st.py_start_ms += float(upd)
                    elif name == _PY_SENT:
                        st.py_sent += float(upd)
                st.py_run_ms += py_ms
                st.task_py_ms.append(py_ms)
    return EventLog(jobs, dict(stages))


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _stage_owner(log: EventLog) -> dict[int, int]:
    """stage id → the first job that lists it (a reused stage is skipped
    by later jobs and runs no tasks there)."""
    owner: dict[int, int] = {}
    for jid in sorted(log.jobs):
        for sid in log.jobs[jid].stages:
            owner.setdefault(sid, jid)
    return owner


def rollup(spans: list[Span], log: EventLog, cores: int) -> list[dict]:
    """One record per span: the span itself, its self time, the ids of
    the jobs it launched (its own and its descendants') and the rollup."""
    children: dict[str, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent:
            children[sp.parent].append(sp)
    jobs_by_group: dict[str, list[int]] = defaultdict(list)
    for jid, job in log.jobs.items():
        if job.group:
            jobs_by_group[job.group].append(jid)
    stages_by_job: dict[int, list[int]] = defaultdict(list)
    for sid, jid in _stage_owner(log).items():
        if sid in log.stages:
            stages_by_job[jid].append(sid)

    def subtree_jobs(sp: Span) -> list[int]:
        out = list(jobs_by_group.get(sp.span_id, []))
        for ch in children.get(sp.span_id, []):
            out.extend(subtree_jobs(ch))
        return out

    records = []
    for sp in spans:
        start_ms, end_ms = sp.start * 1000, sp.end * 1000
        jids = sorted(subtree_jobs(sp))
        covered = _union_len(
            [
                (max(log.jobs[j].submit_ms, start_ms), min(log.jobs[j].end_ms, end_ms))
                for j in jids
                if log.jobs[j].end_ms > start_ms and log.jobs[j].submit_ms < end_ms
            ]
        ) / 1000
        child_cover = _union_len(
            [(c.start, c.end) for c in children.get(sp.span_id, [])]
        )
        sts = [log.stages[s] for j in jids for s in stages_by_job.get(j, [])]
        run_s = sum(s.run_ms for s in sts) / 1000
        by_scope: dict[str, float] = defaultdict(float)
        for s in sts:
            by_scope["+".join(s.scopes) or s.name] += s.run_ms / 1000
        records.append(
            {
                "span_id": sp.span_id,
                "name": sp.name,
                "trace_id": sp.trace_id,
                "parent": sp.parent,
                "start": sp.start,
                "end": sp.end,
                "wall_s": sp.wall,
                "self_s": sp.wall - child_cover,
                "attrs": sp.attrs,
                "job_ids": jids,
                "jobs": len(jids),
                "tasks": sum(s.tasks for s in sts),
                "driver_s": sp.wall - covered,
                "covered_s": covered,
                "task_run_s": run_s,
                "task_max_s": max((t for s in sts for t in s.task_ms), default=0) / 1000,
                "cpu_s": sum(s.cpu_ns for s in sts) / 1e9,
                "python_run_s": sum(s.py_run_ms for s in sts) / 1000,
                "python_bytes_sent": sum(s.py_sent for s in sts),
                "shuffle_bytes": sum(s.shuffle_bytes for s in sts),
                "output_bytes": sum(s.output_bytes for s in sts),
                "slot_idle_ratio": (1 - run_s / (covered * cores)) if covered else 0.0,
                "stage_run_s_by_scope": dict(by_scope),
            }
        )
    return records


def totals(log: EventLog) -> dict:
    """Whole-application Spark figures: GC, spill, Python worker start."""
    sts = log.stages.values()
    return {
        "gc_s": sum(s.gc_ms for s in sts) / 1000,
        "spill_bytes": sum(s.spill_bytes for s in sts),
        "python_start_s": sum(s.py_start_ms for s in sts) / 1000,
    }


def task_seconds(log: EventLog, records: list[dict], span_name: str, scope: str) -> list[float]:
    """Run times of the tasks that ran Python code, in the stages running
    ``scope``, of every job launched under spans named ``span_name`` —
    for the build, one task per group of segments, so the slowest sets
    each wave's time (tasks of empty partitions start no Python worker
    and are left out)."""
    owner = _stage_owner(log)
    jids = {j for r in records if r["name"] == span_name for j in r["job_ids"]}
    return [
        t / 1000
        for sid, st in log.stages.items()
        if owner.get(sid) in jids and scope in st.scopes
        for t, py in zip(st.task_ms, st.task_py_ms)
        if py > 0
    ]
