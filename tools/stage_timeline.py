"""Stage timeline and final-plan census of a Spark event log.

Usage:  python tools/stage_timeline.py EVENT_LOG

``EVENT_LOG`` is an event-log file or a directory of them (uncompressed
JSON lines: ``spark.eventLog.compress=false``, as crawlbench's traced runs
write). Needs no Spark. Prints two tables:

- every stage attempt, in submission order: its offset from the first
  stage's submission, its wall time (submission → completion), its task
  count and the executor run time its tasks summed;
- every SQL execution: the Exchange, BroadcastExchange and Coalesce node
  counts of its final physical plan (the last adaptive re-plan, or the
  submitted plan when AQE never re-planned it), and its description.
  A reused exchange counts once, where it first appears.
"""

from __future__ import annotations

import json
import os
import sys

PLAN_NODES = ("Exchange", "BroadcastExchange", "Coalesce")
_SQL_START = "SparkListenerSQLExecutionStart"
_SQL_UPDATE = "SparkListenerSQLAdaptiveExecutionUpdate"


def _events(path: str):
    files = (
        sorted(os.path.join(path, f) for f in os.listdir(path))
        if os.path.isdir(path) else [path]
    )
    for name in files:
        with open(name) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def plan_counts(info: dict) -> dict:
    """Node counts of one ``sparkPlanInfo`` tree; a ``ReusedExchange``'s
    subtree is the exchange it reuses, so it is not counted again."""
    out = dict.fromkeys(PLAN_NODES, 0)
    todo = [info]
    while todo:
        node = todo.pop()
        if node["nodeName"] in out:
            out[node["nodeName"]] += 1
        if node["nodeName"] != "ReusedExchange":
            todo.extend(node.get("children", []))
    return out


def read_log(path: str) -> tuple[list, list]:
    """(stages, sql) of the event log at ``path``. A stage is a dict with
    id, attempt, name, submit_ms, complete_ms (None if the log ends before
    it does), tasks (ended) and run_ms; an SQL execution is a dict with
    id, description and the counts of :func:`plan_counts`."""
    stages: dict = {}
    plans: dict = {}

    def stage(sid, attempt) -> dict:
        return stages.setdefault((sid, attempt), {
            "name": "", "submit_ms": None, "complete_ms": None,
            "tasks": 0, "run_ms": 0,
        })

    for ev in _events(path):
        kind = ev.get("Event", "")
        if kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            si = ev["Stage Info"]
            st = stage(si["Stage ID"], si.get("Stage Attempt ID", 0))
            st["name"] = si.get("Stage Name", "")
            st["submit_ms"] = si.get("Submission Time")
            st["complete_ms"] = si.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = stage(ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            st["tasks"] += 1
            st["run_ms"] += (ev.get("Task Metrics") or {}).get(
                "Executor Run Time", 0)
        elif kind.endswith(_SQL_START):
            plans[ev["executionId"]] = {
                "description": ev.get("description", ""),
                "plan": ev["sparkPlanInfo"],
            }
        elif kind.endswith(_SQL_UPDATE):
            plans.setdefault(ev["executionId"], {"description": ""})[
                "plan"] = ev["sparkPlanInfo"]
    out_stages = [
        dict(st, id=sid, attempt=att) for (sid, att), st in stages.items()
    ]
    out_stages.sort(key=lambda s: (s["submit_ms"] is None, s["submit_ms"] or 0,
                                   s["id"], s["attempt"]))
    sql = [
        dict(plan_counts(p["plan"]), id=i, description=p["description"])
        for i, p in sorted(plans.items()) if "plan" in p
    ]
    return out_stages, sql


def format_report(stages: list, sql: list) -> str:
    t0 = min((s["submit_ms"] for s in stages if s["submit_ms"] is not None),
             default=0)
    lines = ["stage  att  offset_s  wall_s  tasks  run_s  name"]
    for s in stages:
        off = ("-" if s["submit_ms"] is None
               else f"{(s['submit_ms'] - t0) / 1000:.3f}")
        wall = ("-" if s["submit_ms"] is None or s["complete_ms"] is None
                else f"{(s['complete_ms'] - s['submit_ms']) / 1000:.3f}")
        lines.append(
            f"{s['id']:>5}  {s['attempt']:>3}  {off:>8}  {wall:>6}  "
            f"{s['tasks']:>5}  {s['run_ms'] / 1000:>5.2f}  {s['name']}"
        )
    lines.append("")
    lines.append("sql  " + "  ".join(PLAN_NODES) + "  description")
    for q in sql:
        counts = "  ".join(f"{q[n]:>{len(n)}}" for n in PLAN_NODES)
        lines.append(f"{q['id']:>3}  {counts}  {q['description']}")
    return "\n".join(lines)


def main(argv: list) -> int:
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    print(format_report(*read_log(argv[0])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
