"""Per-layer metrics of the traced run, from spans and the event log.

Layers are named after package modules. ``op.*`` are Spark totals over
the workload's own traced ops (median over ops). A layer metric is the
median over every span of that layer's name outside the warm-up op,
whether the span ran inside a workload op or a layer probe.
"""

from __future__ import annotations

import inspect
import re
import statistics

import eventlog
import inputs
import session

# (name, unit, better)
PER_LAYER = [
    ("op_s_p50", "s", "lower"),
    ("turns_per_s", "turns/s", "higher"),
    ("op.wall_s", "s", "lower"),
    ("op.spark_jobs", "count", "lower"),
    ("op.spark_stages", "count", "lower"),
    ("op.spark_tasks", "count", "lower"),
    ("op.executor_run_s", "s", "lower"),
    ("op.executor_cpu_s", "s", "lower"),
    ("op.gc_s", "s", "lower"),
    ("op.python_worker_s", "s", "lower"),
    ("op.python_bytes_sent", "bytes", "lower"),
    ("op.input_rows_per_turn", "ratio", "lower"),
    ("op.input_bytes", "bytes", "lower"),
    ("op.shuffle_write_bytes", "bytes", "lower"),
    ("op.spill_bytes", "bytes", "lower"),
    ("op.output_bytes", "bytes", "lower"),
    ("op.core_idle_frac", "ratio", "lower"),
    ("op.driver_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.attributed_frac", "ratio", "higher"),
    ("transcripts.run_s", "s", "lower"),
    ("transcripts.run.jobs", "count", "lower"),
    ("transcripts.structure_summary_s", "s", "lower"),
    ("transcripts.structure_summary.shuffle_write_bytes", "bytes", "lower"),
    ("engine.summarize_s", "s", "lower"),
    ("engine.summarize.executor_cpu_s", "s", "lower"),
    ("engine.summarize.python_worker_s", "s", "lower"),
    ("engine.summarize.jobs", "count", "lower"),
    ("dedup.dup_keys_s", "s", "lower"),
    ("dedup.dup_keys.shuffle_write_bytes", "bytes", "lower"),
    ("anomaly.detect_anomalies_s", "s", "lower"),
    ("anomaly.detect_anomalies.jobs", "count", "lower"),
    ("rules.scan_s", "s", "lower"),
    ("rules.fused_s", "s", "lower"),
    *[(f"rules.{r}_s", "s", "lower") for r in inputs.RULE_IDS],
    ("rules.repetitive_text.python_worker_s", "s", "lower"),
    ("rules.repetitive_text.udf_hit_ratio", "ratio", "higher"),
    ("checkpoint.checkpointed_violations_s", "s", "lower"),
    ("checkpoint.group_s", "s", "lower"),
    ("checkpoint.commit_s", "s", "lower"),
    ("checkpoint.jobs_per_group", "count", "lower"),
    ("incremental.run_s", "s", "lower"),
    ("incremental.list_data_files_s", "s", "lower"),
    ("incremental.jobs_per_append", "count", "lower"),
    ("incremental.manifest_bytes", "bytes", "lower"),
]


def dup_keys_call_site() -> re.Pattern:
    """Call site of the duplicate-key collect in ``TranscriptChecker.run``
    (``collect at .../datacheck_spark/transcripts.py:<line>``), found in
    the source so it follows the line if the file changes around it."""
    from datacheck_spark import transcripts

    lines, first = inspect.getsourcelines(transcripts.TranscriptChecker.run)
    start = next(i for i, ln in enumerate(lines) if "duplicate_key_rows" in ln)
    at = next(i for i in range(start, len(lines)) if ".collect()" in lines[i])
    return re.compile(rf"^collect at .*datacheck_spark/transcripts\.py:{first + at}$")


def _median(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def compute(
    spans: list[dict],
    log: eventlog.EventLog,
    op_turns: dict,
    untraced: list[tuple[int, float]],
    rule_failures: dict,
    manifest_bytes: int,
) -> tuple[dict, dict]:
    """Returns (per-layer metrics, per-span detail for the trace file).
    ``op_turns`` maps the op label of each completed workload op to its
    input turns; those ops give the ``op.*`` metrics. ``untraced`` holds
    (turns, wall) of the ops run before the spans were installed; they
    give ``op_s_p50``, ``turns_per_s`` and the tracing overhead."""
    sums = eventlog.span_sums(log, spans)
    desc = eventlog.descendants(spans)
    group_span = {t_id: eventlog.span_of_group(t.group) for t_id, t in enumerate(log.tasks)}
    tasks_by_job: dict[int, list] = {}
    for t in log.tasks:
        tasks_by_job.setdefault(t.job, []).append(t)
    dup_site = dup_keys_call_site()
    measured = [s for s in spans if s["op"] != "warmup"]

    def named(name):
        return [s for s in measured if s["name"] == name]

    def dur(s):
        return s["end"] - s["start"]

    def job_s(jobs):
        return sum((j.end_ms - j.start_ms) / 1e3 for j in jobs if j.end_ms)

    per_op = []
    for s in spans:
        if s["name"] != "op" or s["op"] not in op_turns:
            continue
        S = sums[s["id"]]
        wall = dur(s)
        jobs = [log.jobs[j] for j in S["jobs"]]
        window = [
            j.id for j in log.jobs.values()
            if s["start"] * 1e3 <= j.start_ms <= s["end"] * 1e3
        ]
        total_run = sum(
            t.metrics["executor_run_s"] for j in window for t in tasks_by_job.get(j, ())
        )
        inner = desc[s["id"]] - {s["id"]}
        named_run = sum(
            t.metrics["executor_run_s"]
            for i, t in enumerate(log.tasks)
            if group_span[i] in inner
        )
        per_op.append(
            {
                "op.wall_s": wall,
                "op.spark_jobs": len(jobs),
                "op.spark_stages": S["stages"],
                "op.spark_tasks": S["tasks"],
                "op.executor_run_s": S["executor_run_s"],
                "op.executor_cpu_s": S["executor_cpu_s"],
                "op.gc_s": S["gc_s"],
                "op.python_worker_s": S["python_worker_s"],
                "op.python_bytes_sent": S["python_bytes_sent"],
                "op.input_rows_per_turn": S["input_rows"] / op_turns[s["op"]],
                "op.input_bytes": S["input_bytes"],
                "op.shuffle_write_bytes": S["shuffle_write_bytes"],
                "op.spill_bytes": S["spill_bytes"],
                "op.output_bytes": S["output_bytes"],
                "op.core_idle_frac": 1 - S["executor_run_s"] / (wall * session.CORES),
                "op.driver_s": eventlog.uncovered_s(
                    s["start"], s["end"],
                    [(j.start_ms / 1e3, j.end_ms / 1e3) for j in jobs if j.end_ms],
                ),
                "trace.attributed_frac": named_run / total_run if total_run else 0.0,
            }
        )
    out = {k: _median(o[k] for o in per_op) for k in per_op[0]} if per_op else {}
    out["op_s_p50"] = _median(w for _, w in untraced)
    out["turns_per_s"] = _median(n / w for n, w in untraced)
    out["trace.overhead_s"] = out.get("op.wall_s", 0.0) - out["op_s_p50"]

    # the dup-key jobs are the transcripts.run jobs at the collect's call site
    dup = []
    for s in named("transcripts.run"):
        jobs = [log.jobs[j] for j in sums[s["id"]]["jobs"]]
        dj = [j for j in jobs if j.call_site and dup_site.match(j.call_site)]
        shuffle = sum(
            t.metrics["shuffle_write_bytes"] for j in dj for t in tasks_by_job.get(j.id, ())
        )
        dup.append((job_s(dj), shuffle))
    out["dedup.dup_keys_s"] = _median(d[0] for d in dup)
    out["dedup.dup_keys.shuffle_write_bytes"] = _median(d[1] for d in dup)

    def stat(ss, key=None):
        """Median over spans ``ss`` of their duration, job count or a sum."""
        if key is None:
            return _median(dur(s) for s in ss)
        if key == "jobs":
            return _median(len(sums[s["id"]]["jobs"]) for s in ss)
        return _median(sums[s["id"]][key] for s in ss)

    def span_metric(name, key=None):
        return stat(named(name), key)

    out["transcripts.run_s"] = span_metric("transcripts.run")
    out["transcripts.run.jobs"] = span_metric("transcripts.run", "jobs")
    out["transcripts.structure_summary_s"] = span_metric("transcripts.structure_summary")
    out["transcripts.structure_summary.shuffle_write_bytes"] = span_metric(
        "transcripts.structure_summary", "shuffle_write_bytes"
    )
    # summarize inside the rule ablation is the rules layer's, not the report's
    report_summaries = [
        s for s in named("engine.summarize")
        if s["parent"] is not None and spans[s["parent"]]["name"] == "transcripts.run"
    ]
    out["engine.summarize_s"] = stat(report_summaries)
    out["engine.summarize.executor_cpu_s"] = stat(report_summaries, "executor_cpu_s")
    out["engine.summarize.python_worker_s"] = stat(report_summaries, "python_worker_s")
    out["engine.summarize.jobs"] = stat(report_summaries, "jobs")
    out["anomaly.detect_anomalies_s"] = span_metric("anomaly.detect_anomalies")
    out["anomaly.detect_anomalies.jobs"] = span_metric("anomaly.detect_anomalies", "jobs")

    out["rules.scan_s"] = span_metric("rules.scan")
    out["rules.fused_s"] = span_metric("rules.fused")
    for r in inputs.RULE_IDS:
        out[f"rules.{r}_s"] = span_metric(f"rules.{r}")
    rep = named("rules.repetitive_text")
    out["rules.repetitive_text.python_worker_s"] = span_metric(
        "rules.repetitive_text", "python_worker_s"
    )
    udf_rows_ids = log.plan_metrics.get("ArrowEvalPython", {}).get("number of output rows", set())
    entering = sum(
        eventlog.accum_sum(
            [t for i, t in enumerate(log.tasks) if group_span[i] in desc[s["id"]]],
            udf_rows_ids,
        )
        for s in rep
    ) / max(len(rep), 1)
    flagged = rule_failures.get("repetitive_text", 0)
    out["rules.repetitive_text.udf_hit_ratio"] = flagged / entering if entering else 0.0

    cv = named("checkpoint.checkpointed_violations")
    out["checkpoint.checkpointed_violations_s"] = stat(cv)
    saves = named("checkpoint.save_state")
    gaps, jobs_per_group = [], []
    for s in cv:
        inner = sorted(
            (x for x in saves if x["parent"] == s["id"]), key=lambda x: x["start"]
        )
        marks = [s["start"]] + [x["end"] for x in inner]
        gaps += [b["start"] - a for a, b in zip(marks, inner)]
        if inner:
            jobs_per_group.append(len(sums[s["id"]]["jobs"]) / len(inner))
    out["checkpoint.group_s"] = _median(gaps)
    out["checkpoint.commit_s"] = stat(saves)
    out["checkpoint.jobs_per_group"] = _median(jobs_per_group)

    out["incremental.run_s"] = span_metric("incremental.run")
    out["incremental.list_data_files_s"] = span_metric("incremental.list_data_files")
    out["incremental.jobs_per_append"] = span_metric("incremental.run", "jobs")
    out["incremental.manifest_bytes"] = float(manifest_bytes)

    detail = [
        {
            **s,
            "self_s": eventlog.self_time(spans, s["id"]),
            **{k: v for k, v in sums[s["id"]].items() if k != "jobs"},
            "jobs": [
                {"id": j, "call_site": log.jobs[j].call_site,
                 "s": job_s([log.jobs[j]])}
                for j in sums[s["id"]]["jobs"]
            ],
        }
        for s in spans
    ]
    return {name: out.get(name, 0.0) for name, _, _ in PER_LAYER}, {"spans": detail}
