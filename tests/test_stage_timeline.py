"""tools/stage_timeline.py over a hand-written event log (no Spark)."""

import importlib.util
import json
import os

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "stage_timeline.py",
)
_spec = importlib.util.spec_from_file_location("stage_timeline", _PATH)
ST = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ST)

_SQL = "org.apache.spark.sql.execution.ui."


def _node(name, *children):
    return {"nodeName": name, "simpleString": name, "children": list(children),
            "metadata": {}, "metrics": []}


def _stage(event, sid, name, n, submit, complete=None):
    info = {"Stage ID": sid, "Stage Attempt ID": 0, "Stage Name": name,
            "Number of Tasks": n, "Submission Time": submit}
    if complete is not None:
        info["Completion Time"] = complete
    return {"Event": event, "Stage Info": info}


def _task(sid, run_ms):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Stage Attempt ID": 0, "Task Metrics": {"Executor Run Time": run_ms}}


def _write_log(tmp_path):
    exchange = _node("Exchange", _node("Range"))
    submitted = _node("AdaptiveSparkPlan", _node(
        "SortMergeJoin", exchange, _node("Exchange", _node("Range"))))
    final = _node("AdaptiveSparkPlan", _node("Coalesce", _node(
        "BroadcastHashJoin",
        _node("ShuffleQueryStage", exchange),
        _node("BroadcastQueryStage", _node("BroadcastExchange", _node("Range"))),
        _node("ReusedExchange", exchange),
    )))
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 500},
        {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
         "description": "collect at crawl.py:1", "sparkPlanInfo": submitted},
        _stage("SparkListenerStageSubmitted", 0, "map", 2, 1000),
        _task(0, 300), _task(0, 450),
        _stage("SparkListenerStageCompleted", 0, "map", 2, 1000, 1800),
        {"Event": _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 0, "sparkPlanInfo": final},
        _stage("SparkListenerStageSubmitted", 1, "result", 1, 2500),
        _task(1, 700),
        {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": 1,
         "description": "count at crawl.py:2", "sparkPlanInfo": submitted},
    ]
    d = tmp_path / "logs"
    d.mkdir()
    (d / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(d)


def test_stage_timeline_reads_stages_and_final_plans(tmp_path):
    stages, sql = ST.read_log(_write_log(tmp_path))
    assert [(s["id"], s["submit_ms"], s["complete_ms"], s["tasks"],
             s["run_ms"]) for s in stages] == [
        (0, 1000, 1800, 2, 750),
        (1, 2500, None, 1, 700),   # the log ends before stage 1 does
    ]
    # execution 0 reports its last adaptive plan; the reused exchange is
    # not counted twice. Execution 1 was never re-planned.
    assert [(q["id"], q["Exchange"], q["BroadcastExchange"], q["Coalesce"])
            for q in sql] == [(0, 1, 1, 1), (1, 2, 0, 0)]


def test_stage_timeline_report_lines(tmp_path, capsys):
    assert ST.main([_write_log(tmp_path)]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert lines[1].split() == ["0", "0", "0.000", "0.800", "2", "0.75", "map"]
    assert lines[2].split() == ["1", "0", "1.500", "-", "1", "0.70", "result"]
    assert lines[5].split()[:4] == ["0", "1", "1", "1"]
    assert lines[5].endswith("collect at crawl.py:1")
