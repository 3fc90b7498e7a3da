"""Per-layer table from a Spark event log.

Reads the uncompressed JSON-lines event log of the traced run (set
``spark.eventLog.compress=false``; no zstd module is available to Python)
and turns Spark's own per-operator SQL metrics into metrics named after
the package module each operator belongs to:

* ``ArrowEvalPython`` nodes -> ``functions.udfs``, split by UDF name
  (``text_features_udf`` -> ``udfs.features_*``, ``scrub_udf`` ->
  ``udfs.scrub_*``);
* the ``conv_id`` Exchange, the Window and the ``conv_id`` Sort inside the
  persisted ``with_quality`` frame, and that frame's codegen blocks ->
  ``operators.rules``;
* write commands -> ``plans.pipeline``; the manifest ``groupBy`` collect
  -> ``pipeline.summary_job_s``; the aggregates that feed the metrics
  sinks -> ``operators.metrics``.

Only events inside a time window (the traced pass) are counted. Metric
values are summed per accumulator id, so a plan subtree that shows up in
several executions (the persisted frame) is counted once.
"""

from __future__ import annotations

import json
import os
import re

_SQL = "org.apache.spark.sql.execution.ui."
SQL_START = _SQL + "SparkListenerSQLExecutionStart"
SQL_END = _SQL + "SparkListenerSQLExecutionEnd"
SQL_AQE_UPDATE = _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUMS = _SQL + "SparkListenerDriverAccumUpdates"

SINKS = ("clean", "lineage", "metrics", "metrics_time", "alerts")
METRIC_SINKS = ("metrics", "metrics_time", "alerts")

_WRITE_PATH = re.compile(r"InsertIntoHadoopFsRelationCommand (?:file:)?(\S+?),")
_UDF_NAME = re.compile(r"^ArrowEvalPython \[(\w+)\(")
_UDF_LAYERS = {"text_features_udf": "udfs.features", "scrub_udf": "udfs.scrub"}
_CONV_EXCHANGE = re.compile(r"hashpartitioning\(conv_id#")
_CONV_SORT = re.compile(r"^Sort \[conv_id#")

# the layer metrics this reader produces; every one is always present
PIPELINE_LAYER_METRICS = (
    "pipeline.write_s",
    "pipeline.files_written",
    "pipeline.bytes_written",
    "pipeline.summary_job_s",
    "pipeline.persist_bytes",
    "rules.exchange_bytes",
    "rules.shuffle_wait_s",
    "rules.sort_s",
    "rules.spill_bytes",
    "rules.codegen_s",
    "rules.task_max_s",
    "udfs.features_python_s",
    "udfs.features_rows",
    "udfs.features_bytes_out",
    "udfs.features_bytes_in",
    "udfs.scrub_python_s",
    "udfs.scrub_rows",
    "metrics.agg_s",
)
ENGINE_METRICS = (
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.task_retries",
    "scan.bytes_read",
    "trace.sql_wall_s",
)


def read_events(log_dir: str) -> list:
    """All events under ``log_dir``: a rolling ``eventlog_v2_*`` directory
    (``events_<n>_<app>`` parts, in part order) or plain log files."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        for name in names:
            if name.startswith((".", "appstatus")):
                continue
            part = name.split("_")[1] if name.startswith("events_") else "0"
            files.append((root, int(part) if part.isdigit() else 0, name))
    events = []
    for root, _part, name in sorted(files):
        with open(os.path.join(root, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _layer_of(node: dict, in_cache: bool, sink: str | None) -> str | None:
    name, desc = node["nodeName"], node["simpleString"]
    if name == "ArrowEvalPython":
        m = _UDF_NAME.match(desc)
        return _UDF_LAYERS.get(m.group(1)) if m else None
    if name == "Execute InsertIntoHadoopFsRelationCommand":
        return "pipeline.write"
    if in_cache:
        if name == "Exchange" and _CONV_EXCHANGE.search(desc):
            return "rules.exchange"
        if name == "Sort" and _CONV_SORT.match(desc):
            return "rules.sort"
        if name == "Window":
            return "rules.window"
        if name.startswith("WholeStageCodegen"):
            return "rules.codegen"
    elif name == "HashAggregate" and sink in METRIC_SINKS:
        return "metrics.agg"
    return None


class _Plans:
    """accumulator id -> (layer, metric name, metric type), per execution."""

    def __init__(self) -> None:
        self.accums: dict = {}
        self.sink: dict = {}  # execution id -> sink table, or None
        self.exec_accs: dict = {}  # execution id -> its accumulator ids
        # duration acc of an in-cache codegen block -> the accs whose time
        # its duration also covers (nested blocks, Python worker time)
        self.nested: dict = {}

    def add(self, exec_id: int, plan: dict) -> None:
        m = _WRITE_PATH.search(plan["simpleString"]) or _find_write(plan)
        if m is not None:
            self.sink[exec_id] = os.path.basename(m.group(1).rstrip("/"))
        self._walk(plan, False, self.sink.get(exec_id), exec_id)

    def _walk(self, node: dict, in_cache: bool, sink: str | None, exec_id: int) -> None:
        layer = _layer_of(node, in_cache, sink)
        for m in node["metrics"]:
            acc = m["accumulatorId"]
            self.exec_accs.setdefault(exec_id, set()).add(acc)
            if layer is not None or acc not in self.accums:
                self.accums[acc] = (layer, m["name"], m["metricType"])
        if layer == "rules.codegen":
            self.nested[_metric(node, "duration")] = _nested_timers(node)
        # the persisted frame (InMemoryRelation's plan) is the with_quality
        # output: everything under an InMemoryTableScan belongs to it
        below = in_cache or node["nodeName"] == "InMemoryTableScan"
        for child in node["children"]:
            self._walk(child, below, sink, exec_id)


def _metric(node: dict, name: str):
    return next(
        (m["accumulatorId"] for m in node["metrics"] if m["name"] == name), None
    )


def _nested_timers(block: dict) -> list:
    """Timers nearest below a codegen block: the durations of the next
    codegen blocks down and the Python time of the next ArrowEvalPython
    nodes (whose wait the block's own duration includes)."""
    found, stack = [], list(block["children"])
    while stack:
        node = stack.pop()
        if node["nodeName"].startswith("WholeStageCodegen"):
            found.append(_metric(node, "duration"))
        elif node["nodeName"] == "ArrowEvalPython":
            found.append(_metric(node, "time to run Python workers"))
        else:
            stack.extend(node["children"])
    return [acc for acc in found if acc is not None]


def _find_write(plan: dict):
    stack = [plan]
    while stack:
        node = stack.pop()
        m = _WRITE_PATH.search(node["simpleString"])
        if m is not None:
            return m
        stack.extend(node["children"])
    return None


def _seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def _union_seconds(intervals: list) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def layer_table(events: list, t0_ms: float, t1_ms: float) -> dict:
    """Layer metrics of everything that ran inside [t0_ms, t1_ms]."""
    plans = _Plans()
    starts: dict = {}
    ends: dict = {}
    summary_execs: set = set()
    values: dict = {}
    blocks: dict = {}
    tasks: list = []  # (wall seconds, accumulator ids it updated)
    eng = dict.fromkeys(ENGINE_METRICS, 0.0)
    clock = 0.0

    for e in events:
        kind = e["Event"]
        if kind == SQL_START:
            clock = e["time"]
            starts[e["executionId"]] = e["time"]
            plans.add(e["executionId"], e["sparkPlanInfo"])
            if e["description"].startswith("collect") and "checksum" in e.get(
                "physicalPlanDescription", ""
            ):
                summary_execs.add(e["executionId"])
        elif kind == SQL_AQE_UPDATE:
            plans.add(e["executionId"], e["sparkPlanInfo"])
        elif kind == SQL_END:
            clock = e["time"]
            ends[e["executionId"]] = e["time"]
        elif kind == SQL_DRIVER_ACCUMS:
            if t0_ms <= starts.get(e["executionId"], -1) <= t1_ms:
                for acc, v in e["accumUpdates"]:
                    values[acc] = values.get(acc, 0) + v
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            if t0_ms <= clock <= t1_ms and info["Block ID"].startswith("rdd_"):
                size = info["Memory Size"] + info["Disk Size"]
                blocks[info["Block ID"]] = max(blocks.get(info["Block ID"], 0), size)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            clock = info["Finish Time"]
            if not (t0_ms <= info["Launch Time"] and info["Finish Time"] <= t1_ms):
                continue
            for a in info["Accumulables"]:
                if a.get("Metadata") == "sql" and "Update" in a:
                    values[a["ID"]] = values.get(a["ID"], 0) + int(a["Update"])
            tm = e.get("Task Metrics") or {}
            eng["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            eng["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            eng["scan.bytes_read"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            if info["Attempt"] > 0:
                eng["spark.task_retries"] += 1
            wall = (info["Finish Time"] - info["Launch Time"]) / 1e3
            tasks.append((wall, {a["ID"] for a in info["Accumulables"]}))

    in_window = [
        x for x in starts if t0_ms <= starts[x] and ends.get(x, t1_ms + 1) <= t1_ms
    ]
    sink_execs = {x for x in in_window if plans.sink.get(x) in SINKS}
    sink_accs = {a for x in sink_execs for a in plans.exec_accs.get(x, ())}
    out = dict.fromkeys(PIPELINE_LAYER_METRICS, 0.0)
    window_stage_accs = set()
    for acc, v in values.items():
        layer, metric, mtype = plans.accums.get(acc, (None, None, None))
        if layer == "udfs.features" or layer == "udfs.scrub":
            short = layer.split(".")[1]
            if metric == "time to run Python workers":
                out[f"udfs.{short}_python_s"] += _seconds(v, mtype)
            elif metric == "number of output rows":
                out[f"udfs.{short}_rows"] += v
            elif metric == "data sent to Python workers" and short == "features":
                out["udfs.features_bytes_out"] += v
            elif metric == "data returned from Python workers" and short == "features":
                out["udfs.features_bytes_in"] += v
        elif layer == "rules.exchange":
            if metric == "shuffle bytes written":
                out["rules.exchange_bytes"] += v
            elif metric == "fetch wait time":
                out["rules.shuffle_wait_s"] += _seconds(v, mtype)
        elif layer == "rules.sort":
            if metric == "sort time":
                out["rules.sort_s"] += _seconds(v, mtype)
                window_stage_accs.add(acc)
            elif metric == "spill size":
                out["rules.spill_bytes"] += v
        elif layer == "rules.window" and metric == "spill size":
            out["rules.spill_bytes"] += v
        elif layer == "rules.codegen" and metric == "duration":
            # self time: nested blocks and Python waits are not codegen work
            nested = sum(
                _seconds(values.get(a, 0), plans.accums[a][2])
                for a in plans.nested.get(acc, ())
                if a in plans.accums
            )
            out["rules.codegen_s"] += max(0.0, _seconds(v, mtype) - nested)
        elif layer == "pipeline.write" and acc in sink_accs:
            if metric == "number of written files":
                out["pipeline.files_written"] += v
            elif metric == "written output":
                out["pipeline.bytes_written"] += v
        elif layer == "metrics.agg" and metric == "time in aggregation build":
            out["metrics.agg_s"] += _seconds(v, mtype)

    for x in in_window:
        wall = (ends[x] - starts[x]) / 1e3
        if x in sink_execs:
            out["pipeline.write_s"] += wall
        elif x in summary_execs:
            out["pipeline.summary_job_s"] += wall
    if sink_execs:  # cached blocks of the pipeline's persisted frame
        out["pipeline.persist_bytes"] = float(sum(blocks.values()))
    # the longest task that ran the conv_id sort: the window stage's straggler
    out["rules.task_max_s"] = max(
        (wall for wall, accs in tasks if accs & window_stage_accs), default=0.0
    )
    eng["trace.sql_wall_s"] = _union_seconds([(starts[x], ends[x]) for x in in_window])
    out.update(eng)
    return out
