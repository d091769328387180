"""The offline event-log reducer.

``data/demo_eventlog.json`` is a real Spark 4 event log, trimmed to the
events and fields the reducer reads. It was recorded with the
benchmark's own settings (``common.spark_conf(work, trace=True)``) from
two job groups, tagged as the batch workload tags them: ``demo|build|0``
ran ``count()`` over a two-partition range, ``demo|exec|0`` a grouped sum
into a noop sink.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog import op_layers, reduce_events, reduce_file, sum_groups  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "demo_eventlog.json")


def _events():
    with open(LOG) as f:
        return [json.loads(line) for line in f]


def test_recorded_log_per_group_totals():
    groups = reduce_file(LOG)
    assert set(groups) == {"demo|build|0", "demo|exec|0"}
    # Independent fold: task run time per group via job -> stage -> task.
    stage_group = {}
    for ev in _events():
        if ev["Event"] == "SparkListenerJobStart":
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, ev["Properties"]["spark.jobGroup.id"])
    run_ms = {}
    for ev in _events():
        if ev["Event"] == "SparkListenerTaskEnd":
            g = stage_group[ev["Stage ID"]]
            run_ms[g] = run_ms.get(g, 0) + ev["Task Metrics"]["Executor Run Time"]
    for name, g in groups.items():
        assert g["jobs"] == 2
        assert g["stages"] == 2
        assert g["tasks"] == 3 and g["failed_tasks"] == 0
        assert g["executor_run_s"] == pytest.approx(run_ms[name] / 1e3)
        assert 0 < g["executor_cpu_s"]
        # every shuffle byte written inside the group is read inside it
        assert g["shuffle_write_mb"] > 0
        assert g["shuffle_read_mb"] == pytest.approx(g["shuffle_write_mb"])
        assert g["spill_mb"] == 0
        assert len(g["sql_start_ms"]) == 1
    assert groups["demo|build|0"]["sql_start_ms"][0] < groups["demo|exec|0"]["sql_start_ms"][0]


def test_sum_groups_skips_missing_groups():
    groups = reduce_file(LOG)
    total = sum_groups(groups, ["demo|build|0", "demo|exec|0", "absent"])
    assert total["jobs"] == 4 and total["tasks"] == 6
    assert total["executor_run_s"] == pytest.approx(
        groups["demo|build|0"]["executor_run_s"] + groups["demo|exec|0"]["executor_run_s"])
    assert len(total["sql_start_ms"]) == 2


def test_untagged_jobs_and_failed_tasks():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Executor Run Time": 250, "Disk Bytes Spilled": 2 * 1024 * 1024}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    ]
    g = reduce_events(json.dumps(x) for x in lines)[""]
    assert g["jobs"] == 1 and g["stages"] == 1
    assert g["tasks"] == 2 and g["failed_tasks"] == 1
    assert g["executor_run_s"] == pytest.approx(0.25)
    assert g["spill_mb"] == pytest.approx(2.0)


def test_op_layers_split_jobs_by_phase():
    groups = reduce_file(LOG)
    build_submit = groups["demo|build|0"]["job_submit_ms"]
    exec_submit = groups["demo|exec|0"]["job_submit_ms"]
    # the build phase ends between the two groups' jobs
    b = (max(build_submit) + min(exec_submit)) / 2e3
    op = {"groups": ["demo|build|0", "demo|exec|0"],
          "build": (min(build_submit) / 1e3 - 0.5, b), "exec": (b, max(exec_submit) / 1e3 + 2)}
    out = op_layers([op, {**op, "exec": None}], groups)
    assert out["build.jobs"] == 2 and out["spark.exec_jobs"] == 2
    assert out["build.ms"] == pytest.approx((b - op["build"][0]) * 1e3)
    assert out["spark.exec_ms"] == pytest.approx((op["exec"][1] - b) * 1e3)
    start = groups["demo|exec|0"]["sql_start_ms"][0]
    assert out["spark.plan_ms"] == pytest.approx(start - b * 1e3)
    total = sum_groups(groups, op["groups"])
    assert out["spark.executor_cpu_ms"] == pytest.approx(total["executor_cpu_s"] * 1e3)
    assert out["spark.shuffle_read_kb"] == pytest.approx(total["shuffle_read_mb"] * 1024)
