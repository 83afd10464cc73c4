"""Stdlib reader for uncompressed Spark event logs, and per-span sums.

Reads a log directory as Spark writes it with
``spark.eventLog.compress=false``: rolling logs are directories
``eventlog_v2_<app>`` holding ``events_<n>_<app>`` parts, read in part
order; a non-rolling log is a single file. Task metrics are attributed to
spans through the job group (``spark.jobGroup.id`` = ``pb<span id>``) in
the properties Spark records with each submitted stage.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from pathlib import Path

from tracer import GROUP_PREFIX

_PART = re.compile(r"^events_(\d+)_")

#: metric name -> how to read it from a SparkListenerTaskEnd "Task Metrics"
TASK_METRICS = {
    "executor_run_s": lambda m: m["Executor Run Time"] / 1e3,
    "executor_cpu_s": lambda m: m["Executor CPU Time"] / 1e9,
    "gc_s": lambda m: m["JVM GC Time"] / 1e3,
    "input_bytes": lambda m: m["Input Metrics"]["Bytes Read"],
    "input_rows": lambda m: m["Input Metrics"]["Records Read"],
    "shuffle_write_bytes": lambda m: m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
    "spill_bytes": lambda m: m["Disk Bytes Spilled"],
    "output_bytes": lambda m: m["Output Metrics"]["Bytes Written"],
}

#: named SQL accumulables summed per span: key -> (name, divisor)
ACCUMULABLES = {
    "python_worker_s": ("time to run Python workers", 1e3),
    "python_bytes_sent": ("data sent to Python workers", 1),
}


def event_files(log_root: Path) -> list[Path]:
    """Event-log files under ``log_root`` in the order they were written."""
    files: list[Path] = []
    for entry in sorted(Path(log_root).iterdir()):
        if entry.is_dir() and entry.name.startswith("eventlog_v2_"):
            parts = [
                (int(m.group(1)), p)
                for p in entry.iterdir()
                if (m := _PART.match(p.name))
            ]
            files.extend(p for _, p in sorted(parts))
        elif entry.is_file() and not entry.name.startswith("."):
            files.append(entry)
    return files


def read_events(log_root: Path):
    for path in event_files(log_root):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


@dataclass
class Job:
    id: int
    start_ms: int
    end_ms: int | None = None
    group: str | None = None
    call_site: str | None = None


@dataclass
class Task:
    stage: int
    job: int | None
    group: str | None
    metrics: dict
    accums: dict[int, float]


@dataclass
class EventLog:
    jobs: dict[int, Job]
    tasks: list[Task]
    #: SQL plan node name -> {metric name -> accumulator ids}
    plan_metrics: dict[str, dict[str, set[int]]]
    #: accumulator id -> name, for named accumulables other than task metrics
    accum_names: dict[int, str]


def _walk_plan(node: dict, out: dict) -> None:
    by_name = out.setdefault(node["nodeName"], {})
    for m in node.get("metrics", []):
        by_name.setdefault(m["name"], set()).add(int(m["accumulatorId"]))
    for child in node.get("children", []):
        _walk_plan(child, out)


def load(log_root: Path) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_group: dict[int, str | None] = {}
    tasks: list[Task] = []
    plans: dict[str, dict[str, set[int]]] = {}
    names: dict[int, str] = {}
    for e in read_events(log_root):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(
                id=e["Job ID"],
                start_ms=e["Submission Time"],
                group=props.get("spark.jobGroup.id"),
                call_site=props.get("callSite.short"),
            )
            jobs[job.id] = job
            for sid in e["Stage IDs"]:
                # a stage listed by several jobs runs in the first; later
                # jobs skip it
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics")
            if not tm:
                continue
            sid = e["Stage ID"]
            accums: dict[int, float] = {}
            for a in e["Task Info"].get("Accumulables", []):
                # task metrics come from "Task Metrics"; SQL metrics are
                # flagged internal too, so select by name
                name = a.get("Name") or ""
                if name.startswith("internal.metrics.") or "Update" not in a:
                    continue
                try:
                    accums[int(a["ID"])] = float(a["Update"])
                except (TypeError, ValueError):
                    continue
                if name:
                    names[int(a["ID"])] = name
            tasks.append(
                Task(
                    stage=sid,
                    job=stage_job.get(sid),
                    group=stage_group.get(sid),
                    metrics={k: f(tm) for k, f in TASK_METRICS.items()},
                    accums=accums,
                )
            )
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _walk_plan(e["sparkPlanInfo"], plans)
    return EventLog(jobs, tasks, plans, names)


def span_of_group(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX) and group[len(GROUP_PREFIX):].isdigit():
        return int(group[len(GROUP_PREFIX):])
    return None


def descendants(spans: list[dict]) -> dict[int, set[int]]:
    """span id -> ids of the span and every span nested inside it."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    out = {}
    for s in spans:
        ids, stack = set(), [s["id"]]
        while stack:
            i = stack.pop()
            ids.add(i)
            stack.extend(children.get(i, ()))
        out[s["id"]] = ids
    return out


def self_time(spans: list[dict], span_id: int) -> float:
    """Duration of a span minus the part of it its direct children cover."""
    s = spans[span_id]
    kids = [(c["start"], c["end"]) for c in spans if c["parent"] == span_id]
    return uncovered_s(s["start"], s["end"], kids)


def uncovered_s(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Seconds of ``[start, end]`` covered by none of ``intervals``."""
    covered, cur_end = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, end)
        if b > a:
            covered += b - a
            cur_end = b
    return (end - start) - covered


def span_sums(log: EventLog, spans: list[dict]) -> dict[int, dict]:
    """Per span, inclusive of nested spans: task-metric sums, named
    accumulable sums, the job ids, and the stage count."""
    desc = descendants(spans)
    by_span: dict[int, list[Task]] = {}
    for t in log.tasks:
        sid = span_of_group(t.group)
        if sid is not None:
            by_span.setdefault(sid, []).append(t)
    jobs_by_span: dict[int, list[int]] = {}
    for j in log.jobs.values():
        sid = span_of_group(j.group)
        if sid is not None:
            jobs_by_span.setdefault(sid, []).append(j.id)
    acc_ids = {
        key: {i for i, n in log.accum_names.items() if n == name}
        for key, (name, _) in ACCUMULABLES.items()
    }
    out = {}
    for s in spans:
        ts = [t for i in desc[s["id"]] for t in by_span.get(i, ())]
        sums = {k: sum(t.metrics[k] for t in ts) for k in TASK_METRICS}
        for key, (_, div) in ACCUMULABLES.items():
            ids = acc_ids[key]
            sums[key] = sum(v for t in ts for i, v in t.accums.items() if i in ids) / div
        sums["tasks"] = len(ts)
        sums["stages"] = len({t.stage for t in ts})
        sums["jobs"] = sorted(j for i in desc[s["id"]] for j in jobs_by_span.get(i, ()))
        out[s["id"]] = sums
    return out


def accum_sum(tasks: list[Task], ids: set[int]) -> float:
    return sum(v for t in tasks for i, v in t.accums.items() if i in ids)
