"""scripts/parse_eventlog.py reads single-file logs and Spark 4's rolling
event-log directories (``eventlog_v2_<app>/events_<n>_<app>``)."""

import importlib.util
import json
import os

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "scripts", "parse_eventlog.py")
_spec = importlib.util.spec_from_file_location("parse_eventlog", _SCRIPT)
parse_eventlog = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(parse_eventlog)


def _stage(sid, wall_ms):
    return json.dumps({
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {"Stage ID": sid, "Stage Name": f"stage {sid}\nat x",
                       "Number of Tasks": 4, "Submission Time": 1000,
                       "Completion Time": 1000 + wall_ms},
    })


def test_rolling_log_directory(tmp_path):
    app = "local-1700000000000"
    d = tmp_path / f"eventlog_v2_{app}"
    d.mkdir()
    # index 10 sorts after index 2 numerically, before it as text
    (d / f"events_10_{app}").write_text(_stage(3, 500) + "\n")
    (d / f"events_2_{app}").write_text(
        "\n".join([json.dumps({"Event": "SparkListenerLogStart"}),
                   _stage(1, 1500), "not json", _stage(2, 250)]) + "\n")
    (d / f"appstatus_{app}").write_text("")

    assert [os.path.basename(f) for f in parse_eventlog.log_files(str(d))] == [
        f"events_2_{app}", f"events_10_{app}"]
    stages = parse_eventlog.stage_summary(str(d))
    assert [(s["id"], s["wall_s"], s["name"]) for s in stages] == [
        (1, 1.5, "stage 1"), (2, 0.25, "stage 2"), (3, 0.5, "stage 3")]

    # a single-file log still reads as before
    single = tmp_path / app
    single.write_text(_stage(7, 2000) + "\n")
    assert [s["id"] for s in parse_eventlog.stage_summary(str(single))] == [7]


def _ev(kind, **fields):
    return json.dumps({"Event": kind, **fields})


def test_job_timeline(tmp_path, capsys):
    """Jobs in submission order with their start offset, the driver gap
    since the previous job ended, duration, tasks and call site. A job
    with no ``callSite.short`` shows its root SQL execution's action, or
    else its last stage's name. A stage a later job lists but skips runs
    its tasks in the first job."""
    lines = [
        _ev("SparkListenerJobStart", **{
            "Job ID": 0, "Submission Time": 10_000, "Stage IDs": [0, 1],
            "Properties": {"callSite.short": "count at a.py:1"}}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 0}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 0}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 1}),
        _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 12_500}),
        # 1.5 s of driver time with no job running
        _ev("SparkListenerJobStart", **{
            "Job ID": 1, "Submission Time": 14_000, "Stage IDs": [2, 3],
            "Properties": {"callSite.short": "parquet at b.py:2"}}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 3}),
        _ev("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            executionId=7, description="localCheckpoint at x.java:0"),
        # a job submitted while job 1 runs has no gap before it
        _ev("SparkListenerJobStart", **{
            "Job ID": 2, "Submission Time": 14_500, "Stage IDs": [4],
            "Stage Infos": [{"Stage ID": 4, "Stage Name": "run at F.java:9"}],
            "Properties": {"spark.sql.execution.root.id": "7"}}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 4}),
        _ev("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 15_000}),
        _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 16_000}),
        _ev("SparkListenerJobStart", **{
            "Job ID": 4, "Submission Time": 16_250, "Stage IDs": [6, 7],
            "Stage Infos": [
                {"Stage ID": 7, "Stage Name": "run at F.java:9\nat G"},
                {"Stage ID": 6, "Stage Name": "map at F.java:3"}]}),
        _ev("SparkListenerJobEnd", **{"Job ID": 4, "Completion Time": 16_500}),
        # never finished: not in the timeline
        _ev("SparkListenerJobStart", **{
            "Job ID": 3, "Submission Time": 17_000, "Stage IDs": [5]}),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(lines) + "\n")

    jobs = parse_eventlog.job_timeline(str(log))
    assert [(j["id"], j["start_s"], j["gap_s"], j["dur_s"], j["tasks"],
             j["call_site"]) for j in jobs] == [
        (0, 0.0, 0.0, 2.5, 3, "count at a.py:1"),
        (1, 4.0, 1.5, 2.0, 1, "parquet at b.py:2"),
        (2, 4.5, 0.0, 0.5, 1, "localCheckpoint at x.java:0 [sql 7]"),
        (4, 6.25, 0.25, 0.25, 0, "run at F.java:9"),
    ]

    parse_eventlog.print_jobs(str(log))
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "4 jobs, sum-of-job-wall 5.25s, driver gaps 1.75s"
    assert out[3].split() == ["1", "4.00", "1.50", "2.00", "1", "parquet",
                              "at", "b.py:2"]
