"""Tests of the benchmark itself.

    python -m pytest kgbench/test_kgbench.py -q          # ~2 min (smoke)
    python -m pytest kgbench/test_kgbench.py -q -k "not smoke"
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_metric_and_workload_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == \
        run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == \
        run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _plan(name, metrics=(), children=()):
    return {"nodeName": name, "simpleString": name, "children": list(children),
            "metrics": [{"name": n, "accumulatorId": i, "metricType": "size"}
                        for n, i in metrics]}


def test_summary_walks_query_stages_and_sums_string_updates():
    stage_plan = _plan("AdaptiveSparkPlan", children=[_plan(
        "ResultQueryStage", children=[_plan(
            "MapInArrow", [("data sent to Python workers", 7)], [_plan(
                "ShuffleQueryStage", children=[_plan(
                    "Exchange", [("shuffle bytes written", 8)])])])])])
    sql = "org.apache.spark.sql.execution.ui."
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1000,
         "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Submission Time": 5000,
         "Stage IDs": [2]},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0,
         "time": 1000, "sparkPlanInfo": _plan("AdaptiveSparkPlan")},
        {"Event": sql + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 0, "sparkPlanInfo": stage_plan},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
         "Task Info": {"Accumulables": [{"ID": 7, "Update": "100"},
                                        {"ID": 8, "Update": 30}]},
         "Task Metrics": {"Executor Run Time": 10,
                          "Executor CPU Time": 2_000_000, "JVM GC Time": 1}}
        for stage in (0, 1, 2)
    ] + [{"Event": sql + "SparkListenerDriverAccumUpdates",
          "accumUpdates": [[8, 5]]}]
    s = eventlog.Summary(events, 900, 2000)
    assert (s.jobs, s.stages, s.tasks) == (1, 1, 2)
    assert s.executor_run_s == pytest.approx(0.02)
    assert s.count(eventlog.named("Exchange")) == 1
    # accumulators are global: every task's update counts once
    assert s.metric(eventlog.named("MapInArrow"),
                    "data sent to Python workers") == 300
    assert s.metric(eventlog.named("Exchange"),
                    "shuffle bytes written") == 95


def test_read_events_orders_rolled_files_numerically(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for n in (10, 2, 1):
        (app / f"events_{n}_local-1").write_text(
            json.dumps({"Event": "E", "n": n}) + "\n")
    assert [e["n"] for e in eventlog.read_events(str(tmp_path))] == [1, 2, 10]


def test_stream_files_never_split_a_conversation():
    corpus = inputs.corpus(1, run.WARMUP_SF)
    d = inputs.stream_files(corpus, 8)
    owner = {}
    for name in sorted(os.listdir(d)):
        for conv in set(pq.read_table(os.path.join(d, name))
                        .column("conv_id").to_pylist()):
            assert owner.setdefault(conv, name) == name
    assert sum(pq.read_metadata(os.path.join(d, n)).num_rows
               for n in os.listdir(d)) == inputs.n_turns(
                   os.path.join(corpus, "transcripts.parquet"))


def test_rows_compare_as_multisets_across_column_order_and_int_width():
    import pyarrow as pa
    a = pa.table({"x": pa.array([1, 1, 2], pa.int32()), "y": ["a", "a", "b"]})
    b = pa.table({"y": ["b", "a", "a"], "x": pa.array([2, 1, 1], pa.int64())})
    assert inputs.rows_of(a) == inputs.rows_of(b)
    assert inputs.rows_of(a) != inputs.rows_of(a.slice(1))


def test_smoke_runs_every_workload_against_its_oracle():
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                           "--smoke"], capture_output=True, text=True,
                          timeout=900, cwd=ROOT)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["attempted"] == len(WORKLOADS)
