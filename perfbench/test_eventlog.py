"""Event-log parser test on a tiny hand-written log.

    python3 -m pytest perfbench/test_eventlog.py -q

The events carry the fields Spark 4 writes (checked against a real log
of a pipeline run); only the ones the parser reads are filled in.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def _job(job_id, group, submit, stages, batch=None):
    props = {"spark.jobGroup.id": group}
    if batch is not None:
        props["streaming.sql.batchId"] = batch
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": submit, "Stage IDs": stages,
            "Properties": props}


def _stage(stage_id, group, submit, done, batch=None):
    props = {"spark.jobGroup.id": group}
    if batch is not None:
        props["streaming.sql.batchId"] = batch
    return [
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": stage_id}, "Properties": props},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": stage_id, "Submission Time": submit,
                        "Completion Time": done}},
    ]


def _task(stage_id, run_ms, shuffle=0, result=0, python=0):
    accums = [{"ID": 1, "Name": "number of output rows", "Update": "7"}]
    if python:
        accums += [
            {"ID": 2, "Name": "data sent to Python workers",
             "Update": str(python)},
            {"ID": 3, "Name": "data returned from Python workers",
             "Update": str(python)},
        ]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
            "Task Info": {"Launch Time": 0, "Finish Time": run_ms,
                          "Accumulables": accums},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Result Size": result,
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": shuffle}}}


def _log() -> list[str]:
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, "op0:signatures", 1000, [0, 1]),
        *_stage(0, "op0:signatures", 1000, 1100),
        _task(0, 100, shuffle=10, result=5, python=64),
        _task(0, 100, shuffle=10, result=5, python=64),
        *_stage(1, "op0:signatures", 1100, 1900),
        _task(1, 100, result=5),
        _task(1, 200, result=5),
        _task(1, 600, result=5),
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 2000},
        # a later job of the same group, overlapping another group
        _job(1, "op0:signatures", 2500, [2]),
        _job(2, "op0:id_check", 2600, [3]),
        *_stage(2, "op0:signatures", 2500, 2600),
        _task(2, 50),
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 2700},
        *_stage(3, "op0:id_check", 2600, 3000),
        _task(3, 300),
        {"Event": "SparkListenerJobEnd", "Job ID": 2,
         "Completion Time": 3100},
        # two micro-batches of one streaming query
        _job(3, "run-1", 4000, [4], batch="0"),
        *_stage(4, "run-1", 4000, 4200, batch="0"),
        _task(4, 150, shuffle=7, result=11),
        {"Event": "SparkListenerJobEnd", "Job ID": 3,
         "Completion Time": 4300},
        _job(4, "run-1", 5000, [5], batch="1"),
        *_stage(5, "run-1", 5000, 5100, batch="1"),
        _task(5, 80),
        {"Event": "SparkListenerJobEnd", "Job ID": 4,
         "Completion Time": 5200},
        # a job outside any group is kept under (None, None)
        _job(5, None, 6000, []),
        {"Event": "SparkListenerJobEnd", "Job ID": 5,
         "Completion Time": 6001},
    ]
    return [json.dumps(e) for e in events]


def test_group_totals():
    groups = eventlog.parse(_log())
    sig = eventlog.by_group(groups, "op0:signatures")
    assert sig.jobs == 2
    assert sig.task_s == pytest.approx(1.15)
    assert sig.shuffle_bytes == 20
    assert sig.driver_result_bytes == 25
    assert sig.python_bytes == 4 * 64
    # span: first submission to last completion of the group's jobs
    assert sig.span_s == pytest.approx(1.7)
    # slowest stage is stage 1 (800 ms): max 600 / median 200
    assert sig.skew == pytest.approx(3.0)

    idc = eventlog.by_group(groups, "op0:id_check")
    assert (idc.jobs, idc.task_s, idc.span_s) == (1, 0.3, 0.5)
    assert idc.skew == 1.0

    assert groups[(None, None)].jobs == 1
    missing = eventlog.by_group(groups, "op0:edges")
    assert (missing.jobs, missing.task_s, missing.skew) == (0, 0.0, 1.0)


def test_streaming_batches_are_separate_keys():
    groups = eventlog.parse(_log())
    b0, b1 = groups[("run-1", "0")], groups[("run-1", "1")]
    assert (b0.jobs, b0.task_s, b0.shuffle_bytes, b0.driver_result_bytes) == (
        1, 0.15, 7, 11)
    assert (b1.jobs, b1.task_s) == (1, 0.08)
    assert eventlog.by_group(groups, "run-1").jobs == 2


def test_layer_metrics_names_every_layer(tmp_path):
    import run
    from workloads import OpResult

    log = tmp_path / "local-1"
    log.write_text("\n".join(_log()) + "\n")
    assert eventlog.event_log_file(str(tmp_path)) == str(log)
    groups = eventlog.parse_file(str(log))

    res = OpResult("op0", wall_s=4.0, docs=10)
    res.layer_wall = {"signatures": 1.5, "documents_hashed": 0.5}
    res.rows = {"documents_hashed": 10, "signatures": 9}
    res.extra = {"stream_run_id": "run-1", "batches": [
        {"batch_id": 0, "trigger_s": 0.5, "add_batch_s": 0.4},
        {"batch_id": 1, "trigger_s": 0.3, "add_batch_s": 0.2}]}
    got = run.layer_metrics(groups, [res])

    assert set(got) == set(run.per_layer_units())
    assert got["signatures.wall_s"] == 1.5
    assert got["signatures.task_s"] == pytest.approx(1.15)
    assert got["signatures.python_bytes"] == 256
    assert got["signatures.rows"] == 9
    assert got["id_check.wall_s"] == pytest.approx(0.5)
    assert got["stream.jobs"] == 1
    assert got["stream.overhead_s"] == pytest.approx(0.1)
    assert got["trace.wall_s"] == 4.0
    # layers this op never called read 0
    assert got["edges.skew"] == 0.0
    assert got["q.edit_distance_pairs.wall_s"] == 0.0


def test_unfinished_log_is_rejected(tmp_path):
    (tmp_path / "local-1.inprogress").write_text("")
    with pytest.raises(RuntimeError):
        eventlog.event_log_file(str(tmp_path))
