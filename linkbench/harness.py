"""Shared plumbing for the linkbench workloads: the Spark session, the
span tracer, the closed-loop timer and the result record.

Spans are recorded by the benchmark around calls into the package's
public functions. With tracing on, each span runs under its own Spark
job group, and its job and failed-task counts are read from the
status tracker right after the span ends (the tracker keeps only the
most recent jobs, so a later read could miss them).
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MASTER = "local[2]"


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    """0 when any value is 0 (no sample was measured)."""
    if not values or min(values) <= 0:
        return 0.0
    return math.exp(sum(math.log(v) for v in values) / len(values))


def load1() -> float:
    return os.getloadavg()[0]


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's descendant processes: the
    Python worker daemon and the UDF workers it forks (a worker that
    has exited counts through its parent's cutime and cstime). This is
    the Python side of the Python-UDF boundary."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process has exited meanwhile
            continue
        # Fields after "(comm) ": state, ppid, ..., utime, stime,
        # cutime, cstime at offsets 11-14.
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, ticks in cpu.items():
        up = parent.get(pid, 0)
        while up > 1 and up != jvm_pid:
            up = parent.get(up, 0)
        if up == jvm_pid:
            total += ticks
    return total / tick


class Tracer:
    """In-memory spans: name, layer, start, end, parent. Durations are
    kept with tracing off too (they are the measured times); job groups,
    status-tracker reads and Python worker CPU reads happen only with
    tracing on."""

    def __init__(self, sc, enabled: bool, jvm_pid: int | None = None) -> None:
        self.sc = sc
        self.enabled = enabled
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _group(self, span_id: int | None) -> None:
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span{span_id}", self.spans[span_id]["name"])

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.enabled:
            self._group(rec["id"])
            cpu0 = self._python_cpu()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                rec["python_cpu_s"] = self._python_cpu() - cpu0
                self._count_jobs(rec)
                self._group(rec["parent"])

    def _python_cpu(self) -> float:
        return python_worker_cpu_s(self.jvm_pid) if self.jvm_pid else 0.0

    def _count_jobs(self, rec: dict) -> None:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(f"span{rec['id']}")
        failed = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                sinfo = tracker.getStageInfo(stage)
                failed += sinfo.numFailedTasks if sinfo else 0
        rec["jobs"] = len(jobs)
        rec["failed_tasks"] = failed

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the part its child spans cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            child = sum(c["end"] - c["start"] for c in self.spans
                        if c["parent"] == s["id"])
            own = s["end"] - s["start"] - child
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def failed_tasks(self) -> int:
        return sum(s.get("failed_tasks", 0) for s in self.spans)


@dataclass
class Result:
    """What one run reports: operation counts, end-to-end metrics as
    (value, sample count), and per-layer metric values."""

    attempted: int = 0
    failed: int = 0
    end_to_end: dict[str, tuple[float, int]] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"CHECK FAILED: {what}", flush=True)


def closed_loop(seconds: float, op) -> None:
    """One client: call ``op(i)`` until ``seconds`` have passed, each
    call starting only after the previous one returned (at least one
    call)."""
    t0 = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t0 < seconds:
        op(i)
        i += 1


def start_session(work: str):
    """One local[2] session of the package, with every temporary file
    Spark writes kept under ``work``."""
    from idd_hw6_record_linkage_spark.session import get_spark

    spark = get_spark(
        master=MASTER,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait until it has exited
    (the Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a hung JVM must not outlive us
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def session_state(spark) -> dict[str, float]:
    """Cached storage, cached RDD count and JVM resident memory."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = sum(i.memSize() for i in infos)
    rss_kb = 0.0
    pid = jvm_pid()
    if pid is not None:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    rss_kb = float(line.split()[1])
    return {
        "cached_mb": cached / 1e6,
        "cached_rdds": float(len(infos)),
        "jvm_rss_mb": rss_kb / 1e3,
    }
