"""Tests of the benchmark's own arithmetic: percentiles, span self
time, and the event-log fold. Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json

import pytest

import run
import spans


def test_percentile_interpolates_between_ranks():
    assert run.percentile([4, 1, 3, 2], 0) == 1
    assert run.percentile([4, 1, 3, 2], 50) == 2.5
    assert run.percentile([4, 1, 3, 2], 100) == 4
    assert run.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        run.percentile([], 50)


@pytest.mark.parametrize("n", [11, 21, 110, 1000])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    values = list(range(1, n + 1))
    q, v = run.tail_percentile(values)
    assert sum(x > v for x in values) == 10
    assert v == run.percentile(values, q)


def test_tail_percentile_needs_eleven_samples():
    assert run.tail_percentile(list(range(10))) is None


def test_self_time_subtracts_children():
    recs = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 5.0, "end": 7.0},
        {"id": 3, "parent": 2, "start": 5.5, "end": 6.0},
    ]
    assert spans.self_times(recs) == {0: 5.0, 1: 3.0, 2: 1.5, 3: 0.5}


def _job(job, stages, op=None, span=None, execution=None):
    props = {}
    if op is not None:
        props[spans.OP_KEY] = op
    if span is not None:
        props[spans.SPAN_KEY] = str(span)
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job,
        "Stage IDs": stages,
        "Properties": props,
    }


def _task(stage, run_ms, launch, finish, **metrics):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {"Executor Run Time": run_ms, **metrics},
    }


def _plan(name, *children):
    return {"nodeName": name, "children": list(children)}


EVENTS = [
    {"Event": "SparkListenerLogStart"},
    {
        "Event": spans._SQL_START,
        "executionId": 0,
        "sparkPlanInfo": _plan("AdaptiveSparkPlan", _plan("Scan csv ")),
    },
    _job(0, [0, 1], op="op1", span=4, execution=0),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    _task(
        0,
        30,
        1000,
        1050,
        **{
            "Executor CPU Time": 20_000_000,
            "JVM GC Time": 5,
            "Result Size": 100,
            "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
        },
    ),
    _task(
        1,
        10,
        1100,
        1110,
        **{"Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 61}},
    ),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    # the final plan replaces the initial one
    {
        "Event": spans._SQL_AQE,
        "executionId": 0,
        "sparkPlanInfo": _plan(
            "AdaptiveSparkPlan",
            _plan("ArrowEvalPython", _plan("Scan parquet ")),
            _plan("Scan JDBCRelation(t) [numPartitions=1] "),
        ),
    },
    _job(1, [2], op=None),
    _task(2, 5, 2000, 2001),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
]


def _write_rolling_log(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    # event files roll by index; 10 sorts before 2 as text
    chunks = {2: EVENTS[:5], 10: EVENTS[5:]}
    for idx, evs in chunks.items():
        (app / f"events_{idx}_local-1").write_text(
            "".join(json.dumps(e) + "\n" for e in evs)
        )
    return app


def test_find_event_log_orders_rolled_files(tmp_path):
    app = _write_rolling_log(tmp_path)
    files = spans.find_event_log(str(tmp_path))
    assert files == [str(app / "events_2_local-1"), str(app / "events_10_local-1")]


def test_find_event_log_rejects_unfinished_or_ambiguous_dirs(tmp_path):
    (tmp_path / "local-1.inprogress").write_text("")
    with pytest.raises(RuntimeError):
        spans.find_event_log(str(tmp_path))
    (tmp_path / "local-2").write_text("")
    (tmp_path / "local-3").write_text("")
    with pytest.raises(RuntimeError):
        spans.find_event_log(str(tmp_path))


def test_fold_event_log_attributes_counters_to_ops(tmp_path):
    _write_rolling_log(tmp_path)
    per_op, job_span = spans.fold_event_log(spans.find_event_log(str(tmp_path)))
    assert job_span == {0: 4}
    op = per_op["op1"]
    assert op["jobs"] == 1
    assert op["stages"] == 2
    assert op["tasks"] == 2
    assert op["executor_run_s"] == pytest.approx(0.040)
    assert op["executor_cpu_s"] == pytest.approx(0.020)
    assert op["gc_s"] == pytest.approx(0.005)
    assert op["task_overhead_s"] == pytest.approx(0.020)
    assert op["shuffle_read_bytes"] == 64
    assert op["shuffle_write_bytes"] == 64
    assert op["spill_bytes"] == 7
    assert op["result_bytes"] == 100
    assert op["file_scans"] == 1  # parquet; JDBC is not a file scan
    assert op["python_nodes"] == 1
    other = per_op[None]
    assert (other["jobs"], other["stages"], other["tasks"]) == (1, 1, 1)
    assert other["file_scans"] == 0
