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
