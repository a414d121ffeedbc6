"""Spark event-log parser: per-job-group execution counters.

Reads the JSON-lines event log that Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
(standard library only) and attributes every job, stage and task to the
job group that was set when its job started. The benchmark sets one job
group per span, so the result is keyed by span.

Counters per group:

- ``jobs``, ``sql_executions`` (distinct ``spark.sql.execution.id`` among
  the group's jobs, i.e. DataFrame actions that ran a job);
- ``stages`` (submitted), ``stages_skipped`` (in a job's plan but never
  submitted, because an earlier shuffle output was reused);
- ``tasks``, ``failed_tasks``;
- ``input_records``, ``shuffle_read_bytes``, ``shuffle_write_bytes``,
  ``spill_bytes`` (bytes spilled to disk);
- ``executor_run_ms``, ``executor_cpu_ms``, ``scheduler_delay_ms``.

Every counter is a whole number, so two parses of one log, or two logs of
the same deterministic work, compare with ``==``.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

COUNTERS = (
    "jobs",
    "sql_executions",
    "stages",
    "stages_skipped",
    "tasks",
    "failed_tasks",
    "input_records",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_ms",
    "executor_cpu_ms",
    "scheduler_delay_ms",
)

NO_GROUP = ""


def _task_counters(ev: dict) -> dict[str, int]:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    shuffle_r = m.get("Shuffle Read Metrics", {})
    shuffle_w = m.get("Shuffle Write Metrics", {})
    run_ms = int(m.get("Executor Run Time", 0))
    duration = int(info.get("Finish Time", 0)) - int(info.get("Launch Time", 0))
    overhead = (
        run_ms
        + int(m.get("Executor Deserialize Time", 0))
        + int(m.get("Result Serialization Time", 0))
        + int(info.get("Getting Result Time", 0))
    )
    return {
        "tasks": 1,
        "failed_tasks": int(bool(info.get("Failed", False))),
        "input_records": int(m.get("Input Metrics", {}).get("Records Read", 0)),
        "shuffle_read_bytes": int(shuffle_r.get("Remote Bytes Read", 0))
        + int(shuffle_r.get("Local Bytes Read", 0)),
        "shuffle_write_bytes": int(shuffle_w.get("Shuffle Bytes Written", 0)),
        "spill_bytes": int(m.get("Disk Bytes Spilled", 0)),
        "executor_run_ms": run_ms,
        "executor_cpu_ms": int(m.get("Executor CPU Time", 0)) // 1_000_000,
        "scheduler_delay_ms": max(0, duration - overhead),
    }


def parse(paths: list[str]) -> tuple[dict[str, dict[str, int]], dict[str, int]]:
    """Counters keyed by job group (``""`` for jobs run with none), and the
    submission time (epoch ms) of each group's first job.

    A stage is skipped for a job when it is in the job's plan but is not
    submitted while the job runs, as Spark's UI counts it."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    pending: dict[int, set[int]] = {}  # running job -> planned, not yet submitted
    executions: dict[str, set[str]] = defaultdict(set)
    first_submitted: dict[str, int] = {}
    out: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))

    def end_job(jid: int) -> None:
        out[job_group[jid]]["stages_skipped"] += len(pending.pop(jid, ()))

    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or NO_GROUP
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    pending[jid] = set(ev.get("Stage IDs", []))
                    out[group]["jobs"] += 1
                    first_submitted.setdefault(group, int(ev.get("Submission Time", 0)))
                    exec_id = props.get("spark.sql.execution.id")
                    if exec_id is not None:
                        executions[group].add(exec_id)
                    for sid in pending[jid]:
                        stage_group[sid] = group
                elif kind == "SparkListenerJobEnd":
                    end_job(ev["Job ID"])
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_group.get(sid, NO_GROUP)]["stages"] += 1
                    for planned in pending.values():
                        planned.discard(sid)
                elif kind == "SparkListenerTaskEnd":
                    counters = out[stage_group.get(ev["Stage ID"], NO_GROUP)]
                    for k, v in _task_counters(ev).items():
                        counters[k] += v
    for jid in list(pending):
        end_job(jid)
    for group, ids in executions.items():
        out[group]["sql_executions"] = len(ids)
    return {g: dict(c) for g, c in out.items()}, first_submitted


def parse_dir(log_dir: str) -> tuple[dict[str, dict[str, int]], dict[str, int]]:
    """``parse`` over the plain event-log files in ``log_dir`` (one per
    application, complete once its context has stopped)."""
    return parse(sorted(glob.glob(os.path.join(log_dir, "*"))))


def total(counters: list[dict[str, int]]) -> dict[str, int]:
    """Sum of several groups' counters."""
    out = dict.fromkeys(COUNTERS, 0)
    for c in counters:
        for k in COUNTERS:
            out[k] += c.get(k, 0)
    return out
