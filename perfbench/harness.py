"""Shared harness pieces: spans, process probes, Spark job accounting and the
event-log parser that turns a traced run into ``operators.*`` numbers.

Nothing here reaches into the engine's internals: the harness times the
benchmark's own calls into each layer from outside and reads what Spark
itself reports (status tracker, event log, ``/proc``).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
import uuid
from datetime import datetime


def process_start_time() -> float:
    """Wall-clock time at which this process was created (from ``/proc``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def epoch(iso: str) -> float:
    """Seconds since the epoch of an ISO-8601 timestamp as Spark prints it."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Tracer:
    """In-memory spans: name, start, end, parent, run id. ``span`` always
    returns the measured duration (the workloads time their end-to-end
    metrics with it); spans are only kept when tracing is on."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.time(), "end": None, "dur": None}
        idx = None
        if self.enabled:
            idx = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            rec["run_id"] = self.run_id
            rec.update(attrs)
            self.spans.append(rec)
            self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            if idx is not None:
                self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def rchar() -> int:
    """Bytes this process has read through read(2)-like calls so far."""
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    raise RuntimeError("no rchar in /proc/self/io")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_process(spark):
    """The ``Popen`` of the JVM this PySpark driver launched."""
    return spark.sparkContext._gateway.proc


def memory_mb(spark) -> dict[str, float]:
    """Peak memory of the driver, in MB: the highest resident sets (VmHWM) of
    the Python driver and of its JVM, and the JVM's own accounting, the peak
    used size of each heap pool summed and the non-heap memory in use."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().name() == "HEAP"
    )
    return {
        "driver_peak_rss_mb": vm_hwm_mb(os.getpid()),
        "jvm_peak_rss_mb": vm_hwm_mb(jvm_process(spark).pid),
        "jvm_heap_peak_mb": heap / 2**20,
        "jvm_nonheap_mb": mf.getMemoryMXBean().getNonHeapMemoryUsage().getUsed() / 2**20,
    }


def trivial_job(spark) -> None:
    """A tiny shuffle plus a Python-worker round trip: what a session's first
    real job pays for besides its own work (JVM warm-up, worker spin-up)."""
    from pyspark.sql import functions as F

    spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    df = spark.range(0, 64, 1, spark.sparkContext.defaultParallelism)
    df.mapInArrow(lambda batches: batches, df.schema).count()


def force(df) -> None:
    """Materialize a DataFrame JVM-side through the ``noop`` sink."""
    df.write.mode("overwrite").format("noop").save()


class JobCounter:
    """Jobs, stages and tasks of each job group, from the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    @contextlib.contextmanager
    def group(self, name: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, gid: str) -> tuple[int, int, int]:
        jobs = stages = tasks = 0
        for jid in self.tracker.getJobIdsForGroup(gid):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in list(info.stageIds):
                stage = self.tracker.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return jobs, stages, tasks


def event_log_conf(directory: str) -> dict:
    """Uncompressed, non-rolling event log (the zstd codec needs a package
    that may be missing; plain JSON lines parse with the standard library)."""
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": directory,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _count_exchanges(plan: dict) -> int:
    name = plan.get("nodeName", "")
    own = 1 if name.endswith("Exchange") and not name.startswith("Reused") else 0
    return own + sum(_count_exchanges(c) for c in plan.get("children", ()))


def parse_event_log(directory: str, windows: list[tuple[float, float]]) -> dict:
    """Engine-side cost of the jobs that started inside ``windows`` (wall-clock
    (start, end) pairs, seconds): Exchange nodes of the final executed plans,
    shuffle bytes, spill, executor run and CPU time, and the part of each
    window no job covered (driver-side time)."""
    stats = {
        "exchanges": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "spill_bytes": 0, "task_run_s": 0.0, "task_cpu_s": 0.0, "driver_gap_s": 0.0,
    }
    jobs: dict[int, list] = {}
    stage_in_window: set[int] = set()
    plans: dict[int, dict] = {}

    def inside(t_ms: float) -> bool:
        t = t_ms / 1000.0
        return any(lo <= t <= hi for lo, hi in windows)

    files = [os.path.join(directory, n) for n in os.listdir(directory)]
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    t0 = ev["Submission Time"]
                    if inside(t0):
                        jobs[ev["Job ID"]] = [t0 / 1000.0, None]
                        stage_in_window.update(ev.get("Stage IDs", ()))
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_in_window:
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    stats["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    stats["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    stats["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    stats["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    stats["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                elif kind.endswith("SQLExecutionStart"):
                    if inside(ev.get("time", 0)):
                        plans[ev["executionId"]] = ev["sparkPlanInfo"]
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    if ev["executionId"] in plans:
                        plans[ev["executionId"]] = ev["sparkPlanInfo"]
    stats["exchanges"] = sum(_count_exchanges(p) for p in plans.values())
    for lo, hi in windows:
        spans = sorted(
            (max(a, lo), min(b if b is not None else hi, hi))
            for a, b in jobs.values()
            if lo <= a <= hi
        )
        covered, cursor = 0.0, lo
        for a, b in spans:
            if b > cursor:
                covered += b - max(a, cursor)
                cursor = b
        stats["driver_gap_s"] += (hi - lo) - covered
    return stats
