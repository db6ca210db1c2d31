"""Process-level plumbing for the benchmark: Spark session start/stop with a
fresh JVM, a /proc memory sampler that doubles as the per-iteration
watchdog, Spark status-store stage totals, and an in-memory span tracer.

Everything here talks to Spark only through PySpark's public session
object and the status store; the engine under test is reached only through
``quality_filter``'s public functions (see ``workloads.py``).
"""

from __future__ import annotations

import os
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path

# --------------------------------------------------------------------------
# session lifecycle
# --------------------------------------------------------------------------

def start_session(cores: int, work: Path, driver_mem: str):
    """Start a Spark session on a freshly launched JVM and make it ready for
    every workload: the first trivial action and package shipping.  The
    scorer artifacts are not broadcast here: ``scoring.with_scores`` builds
    and broadcasts them on every call, so that work is part of each job.
    Returns ``(spark, get_spark_seconds)``."""
    from quality_filter.session import get_spark
    from quality_filter.shipping import ensure_shipped

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": driver_mem,
            # a heap sized up front: resident memory then tracks what the
            # jobs touch, not when the JVM chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{driver_mem}",
            # keep every file Spark writes inside the work dir
            "spark.local.dir": str(work / "spark_local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    ensure_shipped(spark)
    return spark, get_spark_s


def stop_session(spark) -> None:
    """Stop the session AND its JVM, and wait for the JVM to exit, so the
    next ``start_session`` pays a real JVM launch and no process outlives
    the benchmark."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------------------------
# /proc memory sampler + watchdog
# --------------------------------------------------------------------------

def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional resident set size: resident pages, with each shared
    page split among the processes mapping it.  Summing RSS instead would
    count a short-lived fork of the JVM (Hadoop's local-filesystem shell
    calls) as a second full JVM."""
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants_resident_bytes() -> dict[str, int]:
    """Resident bytes (PSS) of every process below this one -- the driver
    JVM and the Python UDF daemon/workers it forks -- summed by command
    name."""
    by_name: dict[str, int] = {}
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            by_name[name] = by_name.get(name, 0) + _pss_bytes(pid)
        except (OSError, ValueError):
            continue
    return by_name


class Monitor(threading.Thread):
    """The benchmark's only extra thread.  Samples the resident memory of
    the JVM + Python workers while ``recording`` is set, and cancels all
    Spark jobs once an armed deadline passes, so a hung iteration fails
    instead of stalling the run."""

    def __init__(self, interval: float = 0.1):
        super().__init__(name="perfbench-monitor", daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self.peak_breakdown: dict[str, int] = {}
        self.recording = False
        self._deadline: float | None = None
        self._sc = None
        self._lock = threading.Lock()
        self._halt = threading.Event()
        self.timed_out = False

    def arm(self, sc, seconds: float) -> None:
        with self._lock:
            self._sc, self._deadline, self.timed_out = sc, time.monotonic() + seconds, False

    def disarm(self) -> None:
        with self._lock:
            self._sc, self._deadline = None, None

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            if self.recording:
                by_name = descendants_resident_bytes()
                total = sum(by_name.values())
                if total > self.peak_bytes:
                    self.peak_bytes, self.peak_breakdown = total, by_name
            with self._lock:
                if self._deadline is not None and time.monotonic() > self._deadline:
                    self.timed_out = True
                    self._deadline = None
                    self._sc.cancelAllJobs()

    def close(self) -> None:
        self._halt.set()
        self.join(timeout=10)


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "tasks": "numCompleteTasks",
    "input_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def stage_totals(spark, group: str) -> dict[str, int]:
    """Sum the status store's per-stage metrics over every stage of every
    job that ran under ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    totals = {k: 0 for k in STAGE_FIELDS}
    store = sc._jsc.sc().statusStore()
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        for key, getter in STAGE_FIELDS.items():
            totals[key] += int(getattr(st, getter)())
    return totals


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

class Tracer:
    """In-memory spans (id, parent, name, start, end) on one trace id;
    written out once, when the benchmark ends."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start_s": time.perf_counter() - self.t0,
            "end_s": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self.t0

    def with_self_time(self) -> list[dict]:
        """Spans plus ``self_s``: duration minus the time covered by direct
        children (children of one span never overlap — one driver thread)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end_s"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
        out = []
        for s in self.spans:
            dur = (s["end_s"] or s["start_s"]) - s["start_s"]
            out.append({**s, "trace_id": self.trace_id, "self_s": dur - child_s.get(s["id"], 0.0)})
        return out
