"""Fold a Spark event log (uncompressed, non-rolling JSON lines) into
per-job-description totals.

Jobs carry `spark.job.description` in their start properties; every task
end is attributed to the description of the job that submitted its stage.
SQL driver-side metrics ("number of files read") are attributed through
their execution's description.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class DescTotals:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_records: int = 0
    files_read: int = 0
    job_spans: list = field(default_factory=list)  # (submit_ms, end_ms)
    stage_task_run_s: dict = field(default_factory=lambda: defaultdict(list))


def fold(lines) -> dict[str, DescTotals]:
    """{description: DescTotals} from event-log lines (an iterable of str)."""
    out: dict[str, DescTotals] = defaultdict(DescTotals)
    stage_desc: dict[int, str] = {}
    job_desc: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    exec_desc: dict[int, str] = {}
    files_accums: set[int] = set()
    exec_files: dict[int, int] = defaultdict(int)
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            job_desc[ev["Job ID"]] = desc
            job_submit[ev["Job ID"]] = ev["Submission Time"]
            out[desc].jobs += 1
            for sid in ev["Stage IDs"]:
                stage_desc.setdefault(sid, desc)
            if "spark.sql.execution.id" in props:
                exec_desc.setdefault(int(props["spark.sql.execution.id"]), desc)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_desc:
                out[job_desc[jid]].job_spans.append((job_submit[jid], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            desc = stage_desc.get(ev["Stage ID"], "")
            t = out[desc]
            t.stages.add((ev["Stage ID"], ev["Stage Attempt ID"]))
            t.tasks += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                t.failed_tasks += 1
            m = ev.get("Task Metrics")
            if not m:
                continue
            run_s = m["Executor Run Time"] / 1e3
            t.task_run_s += run_s
            t.task_cpu_s += m["Executor CPU Time"] / 1e9
            t.stage_task_run_s[(ev["Stage ID"], ev["Stage Attempt ID"])].append(run_s)
            sr = m["Shuffle Read Metrics"]
            t.shuffle_read_mb += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / MB
            t.shuffle_write_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
            t.spill_mb += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / MB
            t.input_mb += m["Input Metrics"]["Bytes Read"] / MB
            t.input_records += m["Input Metrics"]["Records Read"]
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            if "description" in ev:
                exec_desc.setdefault(ev["executionId"], ev["description"])
            _collect_accums(ev.get("sparkPlanInfo") or {}, "number of files read", files_accums)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            # posted while the scan is planned, before the execution's jobs
            for acc_id, value in ev["accumUpdates"]:
                if acc_id in files_accums:
                    exec_files[ev["executionId"]] += value
    for exec_id, n in exec_files.items():
        if exec_id in exec_desc:
            out[exec_desc[exec_id]].files_read += n
    return dict(out)


def _collect_accums(plan: dict, metric: str, into: set) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == metric:
            into.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _collect_accums(child, metric, into)


def read(path: str) -> dict[str, DescTotals]:
    with open(path) as fh:
        return fold(fh)


def outside_jobs_s(phase_spans, job_spans) -> float:
    """Seconds of the phase intervals (ms pairs) that no job interval
    covers: driver-side planning, listing, collection and Python glue."""
    merged: list[list[int]] = []
    for s, e in sorted(job_spans):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    outside = 0.0
    for ps, pe in phase_spans:
        covered = sum(max(0, min(pe, e) - max(ps, s)) for s, e in merged)
        outside += (pe - ps) - covered
    return outside / 1e3
