"""Per-span metrics from an uncompressed Spark event log.

Two sources inside the log:

* task metrics (``SparkListenerTaskEnd``): jobs, stages, tasks, executor
  run/CPU/GC time, attributed to a span by the submission time of the job
  that owns the task's stage;
* SQL plan metrics: each SQL execution's final physical plan
  (``sparkPlanInfo`` of its last adaptive update) is walked through every
  child, so the plans inside AQE query stages (``ShuffleQueryStage``,
  ``BroadcastQueryStage``, ``ResultQueryStage`` nodes carry their stage plan
  as a child) are seen, not only ``AdaptiveSparkPlan -> ResultQueryStage``.
  A metric's value is the sum of its accumulator updates from tasks plus
  driver-side updates. Executions are attributed by start time.

Writes and eager checkpoints are SQL executions too, so the parse under a
``localCheckpoint`` and the plans of ``foreachBatch`` writes are covered.
"""

from __future__ import annotations

import glob
import json
import os

_SQL = "org.apache.spark.sql.execution.ui."


def read_events(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir``, in Spark 4's
    rolling layout (``eventlog_v2_<app>/events_<n>_<app>``)."""
    # event order matters (the last adaptive plan update wins): sort the
    # rolled files by their sequence number, not as strings
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*",
                                          "events_*")),
                   key=lambda p: (os.path.dirname(p),
                                  int(os.path.basename(p).split("_")[1])))
    if not files:
        raise FileNotFoundError(f"no rolling event log under {log_dir}")
    out = []
    for path in files:
        with open(path) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def walk_plan(node: dict):
    """Every node of a ``sparkPlanInfo`` tree, query-stage plans included."""
    yield node
    for child in node.get("children", ()):
        yield from walk_plan(child)


class Summary:
    """Metrics of all work started inside one ``[t0_ms, t1_ms]`` span."""

    def __init__(self, events: list[dict], t0_ms: float, t1_ms: float):
        def inside(t):
            return t0_ms <= t <= t1_ms

        stage_ids = set()
        self.jobs = 0
        for e in events:
            if e["Event"] == "SparkListenerJobStart" and inside(
                    e["Submission Time"]):
                self.jobs += 1
                stage_ids.update(e["Stage IDs"])
        self.stages = sum(
            1 for e in events if e["Event"] == "SparkListenerStageCompleted"
            and e["Stage Info"]["Stage ID"] in stage_ids)
        self.tasks = 0
        run_ms = cpu_ns = gc_ms = 0
        accum: dict[int, int] = {}
        for e in events:
            if e["Event"] == "SparkListenerTaskEnd":
                for a in e["Task Info"].get("Accumulables", ()):
                    # SQL metric updates are logged as decimal strings
                    try:
                        update = int(a.get("Update"))
                    except (TypeError, ValueError):
                        continue
                    accum[a["ID"]] = accum.get(a["ID"], 0) + update
                if e["Stage ID"] in stage_ids:
                    m = e.get("Task Metrics") or {}
                    self.tasks += 1
                    run_ms += m.get("Executor Run Time", 0)
                    cpu_ns += m.get("Executor CPU Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
            elif e["Event"] == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    accum[acc_id] = accum.get(acc_id, 0) + value
        self.executor_run_s = run_ms / 1e3
        self.executor_cpu_s = cpu_ns / 1e9
        self.gc_s = gc_ms / 1e3
        self._accum = accum

        plans: dict[int, dict] = {}
        started = set()
        for e in events:
            ev = e["Event"]
            if ev == _SQL + "SparkListenerSQLExecutionStart" and inside(
                    e["time"]):
                started.add(e["executionId"])
                plans[e["executionId"]] = e["sparkPlanInfo"]
            elif (ev == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"
                  and e["executionId"] in started):
                plans[e["executionId"]] = e["sparkPlanInfo"]
        self.nodes = [n for p in plans.values() for n in walk_plan(p)]

    def metric(self, node_pred, metric_name: str) -> int:
        """Sum of one SQL metric over the nodes matching ``node_pred``; an
        accumulator shared by several plan nodes counts once."""
        ids = {m["accumulatorId"] for n in self.nodes if node_pred(n)
               for m in n["metrics"] if m["name"] == metric_name}
        return sum(self._accum.get(i, 0) for i in ids)

    def count(self, node_pred) -> int:
        return sum(1 for n in self.nodes if node_pred(n))


def named(name: str):
    return lambda n: n["nodeName"] == name


def scan_of(path_fragment: str):
    """Parquet scans whose location mentions ``path_fragment``."""
    return lambda n: (n["nodeName"].startswith("Scan parquet")
                      and path_fragment in n.get("simpleString", ""))
