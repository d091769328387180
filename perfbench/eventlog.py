"""Offline reducer for an uncompressed Spark event log.

The benchmark tags every Spark job it causes with a job group
(``sc.setJobGroup``) whose id names the operation, and reduces the JSON
lines the event-log listener wrote to per-group totals: jobs, stages,
tasks, executor run and CPU time, GC time, shuffle bytes and spill, plus
the start times of SQL executions whose description is the group id.
No live UI or history server is needed.

Usage: ``python3 perfbench/eventlog.py <event log file>`` prints the
per-group totals as JSON.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_MB = 1024.0 * 1024.0


def _empty() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "sql_start_ms": [], "job_submit_ms": [],
    }


def reduce_events(lines) -> dict[str, dict]:
    """Fold event-log JSON lines into ``{job group: totals}``.

    Jobs with no group land under ``""``. Stages are attributed to the
    group of the job that submitted them; tasks to their stage."""
    groups: dict[str, dict] = defaultdict(_empty)
    stage_group: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            g = groups[group]
            g["jobs"] += 1
            g["job_submit_ms"].append(ev.get("Submission Time", 0))
            for sid in ev.get("Stage IDs", []):
                if sid not in stage_group:
                    stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            groups[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], "")]
            g["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                g["failed_tasks"] += 1
            m = ev.get("Task Metrics")
            if not m:
                continue
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / _MB
            wr = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
            g["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / _MB
        elif kind == _SQL_START:
            groups[ev.get("description") or ""]["sql_start_ms"].append(ev["time"])
    return dict(groups)


def reduce_file(path: str) -> dict[str, dict]:
    with open(path) as f:
        return reduce_events(f)


def sum_groups(groups: dict[str, dict], keys) -> dict:
    """Totals over the named groups (missing groups count as empty)."""
    out = _empty()
    for key in keys:
        g = groups.get(key)
        if g is None:
            continue
        for k, v in g.items():
            if isinstance(v, list):
                out[k].extend(v)
            else:
                out[k] += v
    return out


PASS_TOTALS = (
    "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)  # event-log totals a batch workload reports for its whole pass

OP_LAYERS = (
    ("session.start_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("build.ms", "ms"),
    ("build.jobs", "count"),
    ("spark.plan_ms", "ms"),
    ("spark.exec_ms", "ms"),
    ("spark.exec_jobs", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.shuffle_read_kb", "KB"),
    ("spark.shuffle_write_kb", "KB"),
)


def op_layers(ops: list[dict], groups: dict[str, dict]) -> dict[str, float]:
    """Per-operation layer metrics that every workload has (the
    ``OP_LAYERS`` names after the two ``session`` ones).

    Each op is ``{"groups": [job group ids], "build": (start, end),
    "exec": (start, end) or None}`` in epoch seconds. The build turns a
    request into a DataFrame (``Engine.execute`` for a statement, an
    operator's ``fn`` for a batch op); the execution runs it. A job
    belongs to the phase during which Spark submitted it. Planning is
    the gap from the execution call to the first SQL execution start.
    Times are medians over ops; jobs and executor totals are means."""
    build_ms, exec_ms, plan_ms = [], [], []
    sums = {"build.jobs": 0, "spark.exec_jobs": 0, "spark.executor_run_ms": 0.0,
            "spark.executor_cpu_ms": 0.0, "spark.gc_ms": 0.0,
            "spark.shuffle_read_kb": 0.0, "spark.shuffle_write_kb": 0.0}
    for op in ops:
        g = sum_groups(groups, op["groups"])
        a, b = op["build"]
        build_ms.append((b - a) * 1e3)
        built = sum(1 for t in g["job_submit_ms"] if t < b * 1e3)
        sums["build.jobs"] += built
        sums["spark.exec_jobs"] += g["jobs"] - built
        if op["exec"] is not None:
            start, end = op["exec"]
            exec_ms.append((end - start) * 1e3)
            starts = [t for t in g["sql_start_ms"] if t >= start * 1e3]
            if starts:
                plan_ms.append(max(0.0, min(starts) - start * 1e3))
        sums["spark.executor_run_ms"] += g["executor_run_s"] * 1e3
        sums["spark.executor_cpu_ms"] += g["executor_cpu_s"] * 1e3
        sums["spark.gc_ms"] += g["gc_s"] * 1e3
        sums["spark.shuffle_read_kb"] += g["shuffle_read_mb"] * 1024
        sums["spark.shuffle_write_kb"] += g["shuffle_write_mb"] * 1024
    n = max(len(ops), 1)
    out = {k: v / n for k, v in sums.items()}
    for name, xs in (("build.ms", build_ms), ("spark.exec_ms", exec_ms), ("spark.plan_ms", plan_ms)):
        out[name] = statistics.median(xs) if xs else 0.0
    return out


if __name__ == "__main__":
    json.dump(reduce_file(sys.argv[1]), sys.stdout, indent=1, sort_keys=True)
    print()
