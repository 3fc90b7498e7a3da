"""Process-level plumbing of the benchmark.

Everything a run writes goes under ``.perfbench_work/`` in the checkout
root (temp files, Spark local dirs, the package zip, inputs, outputs,
event logs). The package is driven only through its public entry points;
no package knob (``SPARK_GRAFT_*``) is passed, so every package default
is the one a user gets.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "realtime_data_quality_monitor_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5)
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_gb() -> int:
    """A quarter of the host's RAM: the package default (24g) exceeds
    small hosts, and the JVM shares the host with the Python workers."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal"))
    return max(1, int(kb / 1024 / 1024 / 4))


def prepare_env(work: str) -> None:
    """Point every temp path into ``work`` and drop package knobs, before
    pyspark or the package is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def open_session(work: str, event_log_dir: str | None = None):
    """``session.get_spark`` at local[nproc], then the first trivial job."""
    from realtime_data_quality_monitor_spark.session import get_spark

    n = nproc()
    tmp = os.path.join(work, "tmp")
    mem = f"{driver_memory_gb()}g"
    conf = {
        "spark.driver.memory": mem,
        # a fixed-size heap: peak RSS then does not depend on when the
        # collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{mem} -Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                # no zstd module for Python here: the log must be plain JSON
                "spark.eventLog.compress": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.range(1).count()
    return spark


def close_session(spark) -> None:
    spark.stop()
    close_gateway()


def close_gateway() -> None:
    """End the gateway JVM, if one runs, and wait until it has exited (it
    quits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def spin_up_python_workers(spark) -> None:
    """Start one Python worker per core with the package's UDF module
    imported, so a pass that follows does not pay worker start-up."""
    from pyspark.sql import functions as F

    from realtime_data_quality_monitor_spark.functions.udfs import text_features_udf

    n = nproc()
    spark.range(0, 256 * n, 1, n).select(
        text_features_udf(F.lit("start the python workers")).alias("f")
    ).write.format("noop").mode("overwrite").save()


def host_epoch_sec() -> float:
    """Single-thread CPU probe on the scale of the repo's 20M-iteration
    ``host_epoch_sec`` (about 1.2 s on a quiet host); runs a quarter of
    the loop and scales it up."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i * i
    return 4 * (time.perf_counter() - t0)


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return next(int(ln.split()[1]) * 1024 for ln in f if ln.startswith("Pss:"))


def _tree_memory_bytes(root_pid: int) -> int:
    """Resident memory of a process tree. Python workers fork from the
    pyspark daemon and share its pages, so those count by PSS (shared
    pages split among their sharers); every other process counts its RSS.
    Processes younger than a second are skipped: a helper the JVM spawns
    shares the JVM's pages until it execs and would count them twice."""
    children: dict = {}
    started: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process ended while we looked
            children.setdefault(int(fields[1]), []).append(int(name))
            started[int(name)] = int(fields[19])
    with open("/proc/uptime") as f:
        now_ticks = float(f.read().split()[0]) * os.sysconf("SC_CLK_TCK")
    page = os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        if now_ticks - started.get(pid, now_ticks) < os.sysconf("SC_CLK_TCK"):
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                forked_worker = b"pyspark.daemon" in f.read()
            if forked_worker:
                total += _pss_bytes(pid)
            else:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
        except (OSError, StopIteration):
            continue
    return total


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled every 200 ms while active."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_memory_bytes(pid))
            self._stop.wait(0.2)

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


class Spans:
    """In-memory spans (name, parent, start, end) recorded by the
    benchmark around its calls into the package."""

    def __init__(self) -> None:
        self.records: list = []
        self._open: list = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._open.pop()
            self.records.append(
                {"name": name, "parent": parent, "start": start, "end": time.time()}
            )

    def seconds(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name)

    def median_ms(self, name: str) -> float:
        walls = [r["end"] - r["start"] for r in self.records if r["name"] == name]
        return 1000 * statistics.median(walls) if walls else 0.0
