"""Event-log parser and stage/job attribution on a tiny uncompressed log."""

import json

import pytest

from layerbench import eventlog


def _task(stage, ttype, run_ms, read_records=0, write_bytes=0, write_records=0, gc_ms=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Type": ttype,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 10 * read_records,
                                     "Total Records Read": read_records},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write_bytes,
                                      "Shuffle Records Written": write_records},
            "Output Metrics": {"Bytes Written": 0},
        },
    }


def _stage(event, stage, submit, complete=None, rdds=()):
    info = {"Stage ID": stage, "Stage Attempt ID": 0, "Stage Name": f"s{stage}",
            "RDD Info": [{"Name": r} for r in rdds], "Submission Time": submit}
    if complete is not None:
        info["Completion Time"] = complete
    return {"Event": event, "Stage Info": info}


PLAN = {"nodeName": "Execute InsertIntoHadoopFsRelationCommand", "children": [
    {"nodeName": "MapInArrow", "children": [
        {"nodeName": "Exchange", "children": [
            {"nodeName": "MapInArrow", "children": [
                {"nodeName": "Exchange", "children": [{"nodeName": "Scan parquet"}]}]}]}]}]}


def tiny_log() -> list[str]:
    events = [
        {"Event": "SparkListenerSQLExecutionStart", "executionId": 3,
         "physicalPlanDescription": "InsertIntoHadoopFsRelationCommand file:/w/out/spans/bucket=0",
         "sparkPlanInfo": {"nodeName": "Exchange", "children": []}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 3, "physicalPlanDescription":
         "InsertIntoHadoopFsRelationCommand file:/w/out/spans/bucket=0", "sparkPlanInfo": PLAN},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10000,
         "Stage IDs": [0, 1, 2], "Properties": {"spark.job.description": "layerbench:extract",
                                                "spark.sql.execution.id": "3"}},
        _stage("SparkListenerStageSubmitted", 0, 10010, rdds=("FileScanRDD",)),
        _task(0, "ShuffleMapTask", 400, write_bytes=100, write_records=5),
        _stage("SparkListenerStageCompleted", 0, 10010, 10500, rdds=("FileScanRDD",)),
        _stage("SparkListenerStageSubmitted", 1, 10500, rdds=("ShuffledRowRDD",)),
        _task(1, "ShuffleMapTask", 100, read_records=2, write_bytes=50, write_records=2),
        _task(1, "ShuffleMapTask", 200, read_records=2, write_bytes=50, write_records=2),
        _task(1, "ShuffleMapTask", 600, read_records=1, write_bytes=50, write_records=1, gc_ms=20),
        _stage("SparkListenerStageCompleted", 1, 10500, 11200, rdds=("ShuffledRowRDD",)),
        _stage("SparkListenerStageSubmitted", 2, 11200, rdds=("ShuffledRowRDD",)),
        _task(2, "ResultTask", 150, read_records=5),
        _stage("SparkListenerStageCompleted", 2, 11200, 11400, rdds=("ShuffledRowRDD",)),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 11450},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 12000,
         "Stage IDs": [3], "Properties": {"spark.job.description": "layerbench:route.count"}},
        _stage("SparkListenerStageSubmitted", 3, 12000),
        _task(3, "ResultTask", 50),
        _stage("SparkListenerStageCompleted", 3, 12000, 12060),
    ]
    # a torn last line, as in a log whose writer has not flushed yet
    return [json.dumps(e) for e in events] + ['{"Event": "SparkListenerJobEnd", "Job']


def test_parse_jobs_stages_tasks():
    log = eventlog.parse(tiny_log())
    assert sorted(log.jobs) == [0, 1]
    job = log.jobs[0]
    assert job.description == "layerbench:extract"
    assert job.execution_id == 3
    assert (job.submit, job.complete) == (10.0, 11.45)
    assert log.jobs[1].complete is None  # torn line skipped
    assert [len(s.tasks) for s in log.stages_of([job])] == [1, 3, 1]
    assert (log.stages[(1, 0)].submit, log.stages[(1, 0)].complete) == (10.5, 11.2)


def test_stage_to_layer_attribution():
    log = eventlog.parse(tiny_log())
    layers = {s.stage_id: s.layer for s in log.stages.values()}
    assert layers == {0: "route", 1: "decode", 2: "reassemble", 3: "other"}


def test_stage_summary_and_skew():
    log = eventlog.parse(tiny_log())
    summary = eventlog.stage_summary(log.stages_of(log.jobs_with("layerbench:extract")))
    dec = summary["layers"]["decode"]
    assert dec["run_s"] == pytest.approx(0.9)
    assert dec["skew"] == pytest.approx(3.0)  # 600 ms over the 200 ms median
    assert dec["windows"] == [(10.5, 11.2)]
    assert summary["tasks"] == 5
    assert summary["shuffle_write_bytes"] == 250
    assert summary["shuffle_records"] == 10
    assert summary["gc_s"] == pytest.approx(0.02)


def test_exchanges_from_final_adaptive_plan():
    log = eventlog.parse(tiny_log())
    assert log.exchanges(log.jobs_with("layerbench:extract")) == 2
    assert log.exchanges(log.jobs_with("layerbench:route.count")) == 0


def test_checkpoint_call_site():
    log = eventlog.parse(tiny_log())
    assert eventlog.checkpoint_call_site(log, log.jobs[0]) == "spans_write"
    assert eventlog.checkpoint_call_site(log, log.jobs[1]) == "other"
    log.plan_text[4] = "InsertIntoHadoopFsRelationCommand file:/w/out/metrics/bucket=1"
    log.plan_text[5] = "CollectLimit 1"
    job = eventlog.Job(job_id=7, submit=0.0, props={"spark.sql.execution.id": "4"})
    assert eventlog.checkpoint_call_site(log, job) == "metrics_write"
    job.props["spark.sql.execution.id"] = "5"
    assert eventlog.checkpoint_call_site(log, job) == "summary"


def test_load_file_and_rolling_dir(tmp_path):
    lines = tiny_log()
    single = tmp_path / "local-1"
    single.write_text("\n".join(lines) + "\n")
    rolling = tmp_path / "eventlog_v2_local-1"
    rolling.mkdir()
    (rolling / "events_2_local-1").write_text("\n".join(lines[10:]) + "\n")
    (rolling / "events_1_local-1").write_text("\n".join(lines[:10]) + "\n")
    for path in (single, rolling):
        log = eventlog.load(str(path))
        assert {s.stage_id: s.layer for s in log.stages.values()}[1] == "decode"
