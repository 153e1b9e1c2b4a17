"""scripts/evt_analyze.summarize on small synthetic Spark event logs: the
attribution it records must stay physically possible on windowed and on
crashed (truncated) logs."""

import json

from scripts.evt_analyze import summarize


def _stage(sid, submit, complete):
    return [
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": sid,
                "Stage Name": f"stage {sid}",
                "Submission Time": submit,
                "Completion Time": complete,
                "Number of Tasks": 1,
            },
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": sid,
            "Task Info": {"Launch Time": submit, "Finish Time": complete},
            "Task Metrics": {"Executor Run Time": complete - submit},
        },
    ]


def _write(tmp_path, events):
    p = tmp_path / "app-1"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(p)


def test_stage_overhanging_window_never_makes_gap_negative(tmp_path):
    # window [1000, 5000] ms; stage 2 is submitted inside it but completes
    # 3 s after its end — only its in-window 1 s may count as covered
    events = [{"Event": "SparkListenerApplicationStart", "Timestamp": 0}]
    events += _stage(1, 1000, 3000) + _stage(2, 4000, 8000)
    events.append({"Event": "SparkListenerApplicationEnd", "Timestamp": 9000})
    t = summarize(_write(tmp_path, events), window_ms=[1000, 5000], cores=2)["totals"]
    assert t["wall_s"] == 4.0
    assert t["covered_s"] == 3.0
    assert t["gap_s"] == 1.0
    assert t["n_stages"] == 2
    # the per-stage table still reports each stage's full wall
    assert t["stage_wall_sum_s"] == 6.0


def test_crashed_log_without_application_end_has_no_wall(tmp_path):
    events = [{"Event": "SparkListenerApplicationStart", "Timestamp": 0}]
    events += _stage(1, 1000, 3000)
    t = summarize(_write(tmp_path, events), cores=2)["totals"]
    assert t["wall_s"] is None and t["gap_s"] is None
    assert t["run_sum_s"] == 2.0
