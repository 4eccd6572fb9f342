"""Spark event-log parser: per-job-group counts and executor metrics.

The benchmark tags every Spark job it causes with a job group
(``Tracer`` in run.py).  With ``spark.eventLog.enabled`` and
``spark.eventLog.compress=false`` the driver writes one JSON object per
line; this module folds those lines into per-group totals so each timed
operation can be split into jobs, stages, tasks, executor run and CPU
time, GC time, shuffle and spill bytes.

Only the standard library is used.  The log must be one file
(``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

_GROUP_KEY = "spark.jobGroup.id"


def _event_lines(path: str):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def find_log(log_dir: str) -> str:
    """The single application log written under ``log_dir``."""
    logs = [os.path.join(log_dir, n) for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {sorted(logs)}")
    return logs[0]


def parse(path: str) -> dict[str, dict]:
    """Fold an event log into ``{job_group: totals}``.

    Totals per group: ``jobs``; ``stages`` and ``tasks`` of the stages the
    group's jobs ran (a stage whose shuffle output a later job reuses is
    counted once, where it ran); ``executor_run_ms``, ``executor_cpu_ms``,
    ``gc_ms``, ``shuffle_read_bytes``, ``shuffle_write_bytes`` and
    ``spill_bytes`` summed over finished tasks; and ``job_spans_ms``, the
    ``[submit, complete]`` wall-clock interval of each job.  Jobs with no
    group are under ``""``.
    """
    job_group: dict[int, str] = {}
    job_span: dict[int, list[int]] = {}
    # stages that were submitted (ran), with the group of the job that ran
    # them; a later job that reuses a stage's shuffle output lists it but
    # skips it, so it is counted once, where it ran
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, int] = {}
    stage_metrics: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    for ev in _event_lines(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get(_GROUP_KEY) or ""
            job_span[jid] = [ev.get("Submission Time", 0), ev.get("Submission Time", 0)]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev.get("Completion Time", job_span[ev["Job ID"]][0])
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            # a retried attempt re-runs the same stage id: count it once
            if info["Stage ID"] not in stage_tasks:
                stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
                stage_group[info["Stage ID"]] = (ev.get("Properties") or {}).get(_GROUP_KEY) or ""
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics")
            if not tm:
                continue
            m = stage_metrics[ev["Stage ID"]]
            m["executor_run_ms"] += tm.get("Executor Run Time", 0)
            m["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            m["gc_ms"] += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)

    out: dict[str, dict] = {}

    def totals(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0.0,
            "executor_cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_read_bytes": 0.0,
            "shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "job_spans_ms": [],
        })

    for jid, group in job_group.items():
        g = totals(group)
        g["jobs"] += 1
        g["job_spans_ms"].append(job_span[jid])
    for sid, group in stage_group.items():
        g = totals(group)
        g["stages"] += 1
        g["tasks"] += stage_tasks[sid]
        for k, v in stage_metrics.get(sid, {}).items():
            g[k] += v
    return out


def covered_ms(spans: list[list[int]]) -> float:
    """Length of the union of ``[start, end]`` intervals, in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
