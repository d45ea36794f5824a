#!/usr/bin/env python3
"""Counts what each Spark application in an event-log directory ran.

    python3 dev/tasks.py <event-log dir>

Reads uncompressed event logs (written with `spark.eventLog.enabled=true`,
`spark.eventLog.dir=<dir>` and `spark.eventLog.compress=false`) in the
order the applications started. An application's log is one file, or,
when Spark rolls its logs (the default since Spark 4.0), one
`eventlog_v2_<app id>` directory of `events_<n>_<app id>` files. For each
application it prints the SQL executions, jobs, stages run and skipped,
and tasks, then one line per stage attempt run: its task count, its wall
time (submission to completion), the summed and the longest task run
time (executor run time) in seconds, and what it ran. A stage of a SQL
execution is named by the plan operators that made its RDDs (the scope
names of its RDDs, e.g. `Scan parquet, WholeStageCodegen (1), Exchange`),
since every such stage has the same call site; a stage outside any scope
by its call site. A stage is skipped when a job lists it but it never ran
(its shuffle output was already there).
"""
import argparse
import json
import sys
from pathlib import Path


def log_files(path):
    """The files of one application's log, in the order Spark wrote them."""
    if path.is_file():
        return [path]
    parts = [p for p in path.iterdir() if p.name.startswith("events_")]
    return sorted(parts, key=lambda p: int(p.name.split("_")[1]))


def events(path):
    for part in log_files(path):
        with open(part, encoding="utf-8", errors="replace") as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        pass  # a log cut short by a crash ends in a partial line


def operators(info):
    """The scope names of a stage's RDDs, in RDD order, each once: the plan
    operators that made them. Empty for a stage outside any scope."""
    names = []
    for rdd in sorted(info.get("RDD Info", []), key=lambda r: r.get("RDD ID", 0)):
        try:
            name = json.loads(rdd.get("Scope") or "{}").get("name", "")
        except json.JSONDecodeError:
            continue
        name = name.strip()
        if name and name not in names:
            names.append(name)
    return ", ".join(names)


def application(path):
    app = {"name": path.name, "id": path.name, "start": 0, "sql": set(), "jobs": set(),
           "listed": set(), "stages": {}, "tasks": 0}
    for e in events(path):
        kind = e.get("Event", "")
        if kind == "SparkListenerApplicationStart":
            app.update(name=e.get("App Name", path.name), id=e.get("App ID", path.name),
                       start=e.get("Timestamp", 0))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            app["sql"].add(e.get("executionId"))
        elif kind == "SparkListenerJobStart":
            app["jobs"].add(e["Job ID"])
            app["listed"].update(e.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stage = app["stages"].setdefault(key, {"tasks": 0, "run_ms": 0, "max_ms": 0})
            stage["name"] = operators(info) or info.get("Stage Name", "").split("\n")[0]
            stage["wall_ms"] = info.get("Completion Time", 0) - info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
            stage = app["stages"].setdefault(key, {"name": "", "tasks": 0, "run_ms": 0, "max_ms": 0})
            run_ms = (e.get("Task Metrics") or {}).get("Executor Run Time", 0)
            stage["tasks"] += 1
            stage["run_ms"] += run_ms
            stage["max_ms"] = max(stage["max_ms"], run_ms)
            app["tasks"] += 1
    return app


def report(app):
    ran = {stage_id for stage_id, _ in app["stages"]}
    print(f"{app['name']} ({app['id']}): {len(app['sql'])} SQL executions, {len(app['jobs'])} jobs, "
          f"{len(app['stages'])} stages run, {len(app['listed'] - ran)} skipped, {app['tasks']} tasks")
    for (stage_id, attempt), s in sorted(app["stages"].items()):
        print(f"  stage {stage_id}.{attempt}: {s['tasks']:4d} tasks {s.get('wall_ms', 0) / 1e3:7.3f} s wall "
              f"{s['run_ms'] / 1e3:8.3f} task-s max {s['max_ms'] / 1e3:7.3f} s  {s['name']}")


def main():
    parser = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    parser.add_argument("dir", type=Path, help="event-log directory")
    args = parser.parse_args()
    logs = [p for p in args.dir.iterdir()
            if not p.name.startswith(".") and (p.is_file() or p.name.startswith("eventlog_v2_"))]
    if not logs:
        sys.exit(f"tasks.py: no event logs in {args.dir}")
    if any(f.suffix in (".lz4", ".lzf", ".snappy", ".zstd") for p in logs for f in log_files(p)):
        sys.exit("tasks.py: compressed event logs; write them with spark.eventLog.compress=false")
    for app in sorted(map(application, logs), key=lambda a: a["start"]):
        report(app)


if __name__ == "__main__":
    main()
