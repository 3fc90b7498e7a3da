"""Tests of the event-log reader on a small hand-built log.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402


def node(name, desc=None, metrics=(), children=()):
    return {
        "nodeName": name,
        "simpleString": desc or name,
        "metrics": [
            {"name": m, "accumulatorId": acc, "metricType": kind} for m, acc, kind in metrics
        ],
        "children": list(children),
    }


def rules_frame():
    """with_quality's shape: conv_id exchange -> sort -> window -> UDF."""
    exchange = node(
        "Exchange",
        "Exchange hashpartitioning(conv_id#1, 8), REPARTITION_BY_NUM",
        [("shuffle bytes written", 60, "size"), ("fetch wait time", 61, "timing")],
    )
    sort = node(
        "Sort",
        "Sort [conv_id#1 ASC NULLS FIRST, ts#5 ASC NULLS FIRST], false, 0",
        [("sort time", 50, "timing"), ("spill size", 51, "size")],
        [exchange],
    )
    window = node("Window", "Window [...]", [("spill size", 40, "size")], [sort])
    inner = node("WholeStageCodegen (2)", metrics=[("duration", 30, "timing")], children=[window])
    udf = node(
        "ArrowEvalPython",
        "ArrowEvalPython [text_features_udf(CASE WHEN ...)#9], [pythonUDF0#10], 200",
        [
            ("time to run Python workers", 20, "timing"),
            ("number of output rows", 21, "sum"),
            ("data sent to Python workers", 22, "size"),
            ("data returned from Python workers", 23, "size"),
        ],
        [inner],
    )
    outer = node("WholeStageCodegen (3)", metrics=[("duration", 10, "timing")], children=[udf])
    return node("InMemoryTableScan", children=[outer])


def write_plan(table, frame, extra=()):
    cmd = node(
        "Execute InsertIntoHadoopFsRelationCommand",
        f"Execute InsertIntoHadoopFsRelationCommand file:/w/out/{table}, false, Parquet",
        [("number of written files", 70 + len(table), "sum"), ("written output", 80 + len(table), "size")],
        [node("WriteFiles", children=[frame, *extra])],
    )
    return node("AdaptiveSparkPlan", children=[cmd])


def task(stage, launch, finish, updates, cpu_ns=0, gc_ms=0, read=0, attempt=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Attempt": attempt,
            "Accumulables": [
                {"ID": acc, "Update": str(v), "Metadata": "sql"} for acc, v in updates.items()
            ],
        },
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Input Metrics": {"Bytes Read": read},
        },
    }


def sql(kind, exec_id, time_ms, **kw):
    return {"Event": eventlog._SQL + kind, "executionId": exec_id, "time": time_ms, **kw}


def pipeline_log():
    agg = node(
        "HashAggregate", "HashAggregate(keys=[_group#3], functions=[...])",
        [("time in aggregation build", 90, "timing")],
    )
    return [
        sql(
            "SparkListenerSQLExecutionStart", 1, 1000,
            description="parquet at NativeMethodAccessorImpl.java:0",
            sparkPlanInfo=write_plan("clean", rules_frame()),
        ),
        task(3, 1100, 1900, {60: 5000, 61: 20, 50: 300, 51: 0, 40: 0, 30: 900, 20: 400,
                             21: 100, 22: 7000, 23: 300, 10: 1500, 75: 2},
             cpu_ns=2_000_000_000, gc_ms=100, read=4096),
        task(3, 1100, 2400, {50: 200, 30: 100, 10: 200}, attempt=1),
        sql("SparkListenerDriverAccumUpdates", 1, None, accumUpdates=[[85, 12345]]),
        {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
            "Block ID": "rdd_7_0", "Memory Size": 1000, "Disk Size": 0}},
        {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
            "Block ID": "broadcast_1", "Memory Size": 50, "Disk Size": 0}},
        sql("SparkListenerSQLExecutionEnd", 1, 2500),
        sql(
            "SparkListenerSQLExecutionStart", 2, 2600,
            description="parquet at NativeMethodAccessorImpl.java:0",
            sparkPlanInfo=write_plan("metrics", rules_frame(), [agg]),
        ),
        task(5, 2650, 2800, {90: 40}),
        sql("SparkListenerSQLExecutionEnd", 2, 2900),
        sql(
            "SparkListenerSQLExecutionStart", 3, 3000,
            description="collect at plans/pipeline.py:185",
            physicalPlanDescription="... sum(checksum) ...",
            sparkPlanInfo=node("AdaptiveSparkPlan"),
        ),
        sql("SparkListenerSQLExecutionEnd", 3, 3300),
        # outside the window: must not count
        sql(
            "SparkListenerSQLExecutionStart", 4, 9000,
            description="parquet at NativeMethodAccessorImpl.java:0",
            sparkPlanInfo=write_plan("lineage", rules_frame()),
        ),
        task(9, 9100, 9500, {60: 10**9, 20: 10**6}),
        sql("SparkListenerSQLExecutionEnd", 4, 9600),
    ]


def test_layers_are_attributed_to_modules():
    t = eventlog.layer_table(pipeline_log(), 900, 3500)
    assert t["rules.exchange_bytes"] == 5000
    assert t["rules.shuffle_wait_s"] == 0.02
    assert t["rules.sort_s"] == 0.5
    assert t["udfs.features_python_s"] == 0.4
    assert t["udfs.features_rows"] == 100
    assert t["udfs.features_bytes_out"] == 7000
    assert t["udfs.features_bytes_in"] == 300
    assert t["udfs.scrub_python_s"] == 0.0
    assert t["pipeline.files_written"] == 2
    assert t["pipeline.bytes_written"] == 12345
    assert t["metrics.agg_s"] == 0.04
    assert t["pipeline.persist_bytes"] == 1000  # rdd blocks only
    # clean (1.5 s) and metrics (0.3 s) writes; the summary collect is its own
    assert abs(t["pipeline.write_s"] - 1.8) < 1e-9
    assert abs(t["pipeline.summary_job_s"] - 0.3) < 1e-9
    # longest task of the stage that ran the conv_id sort
    assert t["rules.task_max_s"] == 1.3
    assert t["spark.task_retries"] == 1
    assert t["spark.executor_cpu_s"] == 2.0
    assert t["spark.gc_s"] == 0.1
    assert t["scan.bytes_read"] == 4096
    assert abs(t["trace.sql_wall_s"] - 2.1) < 1e-9


def test_codegen_counts_self_time_only():
    t = eventlog.layer_table(pipeline_log(), 900, 3500)
    # outer block 1.7 s less the Python wait (0.4 s) below it; inner 1.0 s
    assert abs(t["rules.codegen_s"] - (1.7 - 0.4 + 1.0)) < 1e-9


def test_nodes_outside_the_persisted_frame_are_not_rules():
    frame = rules_frame()["children"][0]  # the same operators, not cached
    events = [
        sql("SparkListenerSQLExecutionStart", 1, 1000, description="count",
            sparkPlanInfo=node("AdaptiveSparkPlan", children=[frame])),
        task(1, 1100, 1200, {60: 5000, 50: 300, 20: 400}),
        sql("SparkListenerSQLExecutionEnd", 1, 1300),
    ]
    t = eventlog.layer_table(events, 0, 2000)
    assert t["rules.exchange_bytes"] == 0 and t["rules.sort_s"] == 0
    assert t["udfs.features_python_s"] == 0.4  # UDF nodes count anywhere
    assert t["pipeline.persist_bytes"] == 0


def test_read_events_orders_rolling_parts(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "appstatus_local-1").write_text("")
    for part, eid in ((2, 20), (10, 100), (1, 10)):
        (d / f"events_{part}_local-1").write_text(json.dumps({"Event": "E", "id": eid}) + "\n")
    assert [e["id"] for e in eventlog.read_events(str(tmp_path))] == [10, 20, 100]
