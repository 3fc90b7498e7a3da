"""Repository benchmark: one workload per invocation, from the repo root.

    python3 perfbench/run.py --workload transcripts_batch --seed 1 --seconds 5 --trace 0

Workloads (see workloads.py): ``transcripts_batch`` and ``curation_tail``.
Spark runs at local[nproc] in this one driver process, with every package
default left as shipped. A run:

1. opens the session; ``setup_s`` counts from process start until
   ``session.get_spark`` has returned and the first trivial job has run;
2. builds the seeded input (untimed) and takes one full-size untimed
   warm-up pass;
3. repeats timed passes, each into a fresh output directory, until
   ``--seconds`` have passed and at least MIN_PASSES have run; every pass
   is checked, and ``wall_s`` is their median.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
(setup_s, wall_s, rows_per_s, peak_rss_mb). With ``--trace 1`` the
untraced passes are followed, for ``transcripts_batch``, by a closed loop
of dashboard reads (one client, 104 requests), and then by one traced
pass in a fresh SparkContext that writes an event log; the last line then
carries the per-layer table (eventlog.py plus the spans taken here).
``trace.overhead_s`` is the traced pass wall minus the untraced median, so
it includes what the fresh context costs that pass as well as tracing;
``trace.unattributed_s`` is the traced pass wall that no layer metric
claims.
Lines before the last one are a human-readable report: the metrics with
their units, failed_ops_ratio, sample counts, the run environment and
the host-epoch probe before and after the timed passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import harness

# run-to-run spread on a shared host comes from the host, not the pass: the
# median of two passes per run spread as much as one pass, and one pass
# keeps a run under a minute at local[4]
MIN_PASSES = 1
READ_REQUESTS = 104  # 13 rounds of the 8 endpoints: p90 has 10 samples beyond it

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB"}
ENDPOINTS = (
    "health",
    "metrics_latest",
    "metrics_history",
    "metrics_dimensions",
    "issues_recent",
    "issue_summary",
    "stats_window",
    "lifetime_overview",
)


class Ops:
    """Attempted and failed operations (passes and reads)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:  # a failed operation is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None

    @property
    def failed_ratio(self) -> float:
        return self.failed / max(1, self.attempted)


def _expected(workload: str, seed: int) -> dict:
    """Checksums recorded for this seed (empty when none were recorded)."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
    with open(path) as f:
        return json.load(f).get(workload, {}).get(str(seed), {})


class Runner:
    def __init__(self, args, work: str) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.ops = Ops()
        self.spans = harness.Spans()
        self.wl_cls = WORKLOADS[args.workload]
        self.expected = _expected(args.workload, args.seed)
        self.fingerprint: dict | None = None
        self.read_digests: dict | None = None
        self.pass_window = (0.0, 0.0)  # epoch start and end of the last pass
        self.n_out = 0

    def start(self, event_log_dir: str | None = None):
        self.spark = harness.open_session(self.work, event_log_dir)
        return self.spark

    def checked_pass(self, timed: list | None = None) -> str:
        """One pass into a fresh directory, checked; the wall of a pass
        that passes its checks goes to ``timed``. Returns the output
        directory."""
        from workloads import require

        self.n_out += 1
        out = os.path.join(self.work, "out", f"pass{self.n_out}")

        def go():
            t0, start = time.perf_counter(), time.time()
            result = self.wl.run_pass(out, self.spans)
            wall = time.perf_counter() - t0
            self.pass_window = (start, time.time())
            fp = self.wl.check_pass(out, result)
            if self.fingerprint is None:
                self.fingerprint = fp
                want = self.expected.get("pass")
                require(want in (None, fp), f"pass {fp} != recorded {want}")
            require(fp == self.fingerprint, f"pass {fp} != first pass {self.fingerprint}")
            if timed is not None:
                timed.append(wall)

        self.ops.run(go)
        return out

    def prepare(self) -> None:
        self.wl = self.wl_cls(self.spark, self.work, self.args.seed)
        self.wl.prepare()
        shutil.rmtree(self.checked_pass(), ignore_errors=True)  # full-size warm-up

    def timed_passes(self) -> list:
        """Timed passes until ``--seconds`` have passed (at least
        MIN_PASSES); keeps the last pass's output in ``last_out``."""
        walls: list = []
        deadline = time.time() + self.args.seconds
        self.last_out = None
        while len(walls) < MIN_PASSES or time.time() < deadline:
            out = self.checked_pass(walls)
            if self.last_out:
                shutil.rmtree(self.last_out, ignore_errors=True)
            self.last_out = out
            if self.ops.failed > MIN_PASSES:
                break  # passes keep failing: stop rather than spin
        return walls

    def reads(self, out: str) -> list:
        """Closed loop, one client: each request starts when the previous
        one has returned. Every response is checked. Returns sorted
        request latencies in ms."""
        from workloads import require, rows_digest

        calls = self.wl.read_ops(out)
        first: dict = {}
        digests: dict = {}
        lat: list = []
        for i in range(READ_REQUESTS):
            name, call = calls[i % len(calls)]

            def go():
                t0 = time.perf_counter()
                with self.spans.span(f"endpoints.{name}"):
                    rows = call()
                lat.append(1000 * (time.perf_counter() - t0))
                d = rows_digest(rows)
                if name not in digests:
                    digests[name], first[name] = d, rows
                    if len(first) == len(calls):
                        self.wl.check_first_reads(first)
                        want = self.expected.get("reads")
                        require(want in (None, digests), f"reads {digests} != recorded")
                require(digests[name] == d, f"{name} response changed")

            self.ops.run(go)
        self.read_digests = digests
        return sorted(lat)

    def env_record(self) -> dict:
        from realtime_data_quality_monitor_spark import config

        sc = self.spark.sparkContext
        return {
            "nproc": harness.nproc(),
            "master": sc.master,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "arrow_max_records_per_batch": self.spark.conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch"
            ),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "SPARK_GRAFT_UDF_INTERIOR": config.UDF_INTERIOR,
        }


def run_untraced(args, work: str) -> tuple:
    r = Runner(args, work)
    r.start()
    t_start = harness.process_start_epoch()
    setup_s = time.time() - t_start
    env = r.env_record()
    r.prepare()
    t_prepared = time.time() - t_start
    epoch = [harness.host_epoch_sec()]
    with harness.PeakRss() as rss:
        walls = r.timed_passes()
    epoch.append(harness.host_epoch_sec())
    harness.close_session(r.spark)
    metrics = {}  # stays empty when no pass passed its checks
    if walls:
        wall = statistics.median(walls)
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "rows_per_s": r.wl.rows / wall,
            "peak_rss_mb": rss.peak_mb,
        }
    report = {
        "env": env,
        "host_epoch_sec": epoch,
        "input_rows": r.wl.rows,
        "pass_walls_s": walls,
        "prepared_at_s": t_prepared,
        "finished_at_s": time.time() - t_start,
        "failed_ops_ratio": r.ops.failed_ratio,
        "fingerprint": r.fingerprint,
    }
    return r.ops, {k: (v, E2E_UNITS[k]) for k, v in metrics.items()}, report


def run_traced(args, work: str) -> tuple:
    import eventlog
    from workloads import CurationTail

    r = Runner(args, work)
    r.start()
    env = r.env_record()
    r.prepare()
    epoch = [harness.host_epoch_sec()]
    walls = r.timed_passes()
    layers: dict = {}
    lat = r.reads(r.last_out) if hasattr(r.wl, "read_ops") else []
    layers["endpoints.read_p50_ms"] = _percentile(lat, 0.50)
    layers["endpoints.read_p90_ms"] = _percentile(lat, 0.90)
    layers["endpoints.read_samples"] = len(lat)
    for name in ENDPOINTS:
        layers[f"endpoints.{name}_ms"] = r.spans.median_ms(f"endpoints.{name}")
    epoch.append(harness.host_epoch_sec())
    shutil.rmtree(r.last_out, ignore_errors=True)

    # one traced pass in a fresh SparkContext of the same, JIT-warm JVM
    r.spark.stop()
    log_dir = os.path.join(work, "eventlog")
    r.wl.spark = r.start(log_dir)
    harness.spin_up_python_workers(r.spark)
    r.spans = harness.Spans()
    out = r.checked_pass()
    t0, t1 = r.pass_window  # the pass alone, without its output checks
    if hasattr(r.wl, "changed_ratio"):
        layers["scrub.changed_ratio"] = r.wl.changed_ratio(out)
    r.spark.stop()  # completes the event log
    table = eventlog.layer_table(eventlog.read_events(log_dir), 1000 * t0, 1000 * t1)
    harness.close_session(r.spark)

    layers.setdefault("scrub.changed_ratio", 0.0)
    layers.update(table)
    is_curation = args.workload == CurationTail.name
    funnel = (r.fingerprint or {}).get("funnel") if is_curation else None
    stage_s = 0.0
    for i, stage in enumerate(CurationTail.STAGES):
        span = CurationTail.SPAN_NAMES[stage]
        layers[f"{span}_s"] = r.spans.seconds(span)
        layers[f"{span}_rows_out"] = funnel[i + 1] if funnel else 0
        stage_s += layers[f"{span}_s"]
    traced = t1 - t0
    layers["trace.pass_wall_s"] = traced
    # includes the cost of the fresh SparkContext the traced pass runs in
    layers["trace.overhead_s"] = traced - statistics.median(walls) if walls else 0.0
    # wall of the traced pass that no layer metric claims: the sink writes
    # and the manifest job for the pipeline, the six stage spans for curation
    if is_curation:
        claimed = stage_s
    else:
        claimed = table["pipeline.write_s"] + table["pipeline.summary_job_s"]
    layers["trace.unattributed_s"] = traced - claimed
    report = {
        "env": env,
        "host_epoch_sec": epoch,
        "untraced_walls_s": walls,
        "failed_ops_ratio": r.ops.failed_ratio,
        "fingerprint": r.fingerprint,
        "read_digests": r.read_digests,
    }
    return r.ops, {k: (v, _layer_unit(k)) for k, v in layers.items()}, report


def _percentile(sorted_vals: list, q: float) -> float:
    if not sorted_vals:
        return 0.0
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


def _layer_unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "bytes" if "bytes" in name else "count"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(harness.ROOT, harness.PACKAGE, "__init__.py")):
        print(f"perfbench: no {harness.PACKAGE}/ package beside perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(harness.WORK_ROOT, f"{args.workload}-{os.getpid()}")
    harness.prepare_env(work)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        ops, metrics, report = (run_traced if args.trace else run_untraced)(args, work)
    finally:
        harness.close_gateway()  # a run that stopped half-way leaves its JVM
        shutil.rmtree(work, ignore_errors=True)
    for k, v in report.items():
        print(f"# {k}: {json.dumps(v, default=str)}")
    for k, (v, unit) in metrics.items():
        print(f"{k:36s} {v:>18.4f} {unit}")
    print(
        json.dumps(
            {
                "correct": ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
