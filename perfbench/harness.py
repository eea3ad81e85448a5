"""Run-time plumbing for the benchmark: the Spark session and its
teardown, in-memory tracing, Spark job accounting, the process-tree
memory sampler and the host-noise control.

Nothing here touches the engine; ``workloads.py`` drives the engine.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

# Spark session used by every workload.  Two task slots on the 4-core
# host this benchmark is sized for: the other two cores are left to the
# driver JVM's own threads (planning, codegen, JIT, GC), the Python
# driver and the Python workers, so a search's stages do not wait on
# oversubscribed cores.  At this corpus size two slots build as fast as
# four.  The data is small, so shuffles use one partition per slot.
SPARK_CONF = {
    "spark.master": "local[2]",
    "spark.driver.memory": "2g",
    "spark.sql.shuffle.partitions": "2",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------------ tracing

class Tracer:
    """Spans kept in memory: name, start, end, parent span and trace id
    (one trace per benchmark operation).  Disabled tracers record nothing
    but still run the body."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        parent = getattr(self._local, "cur", None)
        rec = {
            "name": name,
            "trace": trace or (parent["trace"] if parent else None),
            "parent": parent["id"] if parent else None,
            "id": len(self.spans),
            "start": time.perf_counter(),
            "end": None,
        }
        if self.enabled:
            self.spans.append(rec)
        self._local.cur = rec
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._local.cur = parent

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def count_between(self, t0: float, t1: float) -> int:
        return sum(1 for s in self.spans if t0 <= s["start"] <= t1)


def span_cost_s(n: int = 2000) -> float:
    """Measured cost of one recorded span (enter + exit)."""
    tr = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("x"):
            pass
    return (time.perf_counter() - t0) / n


# ------------------------------------------------------ Spark job counting

def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
    return len(jobs), tasks


# ------------------------------------------------- process tree + memory

def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; fields after the closing paren are fixed
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeRss(threading.Thread):
    """Samples the summed resident memory of this process and all its
    descendants (driver, JVM, Python workers) and remembers every
    descendant seen, so teardown can wait for each to end."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self.seen: set[int] = set()
        self._stop_ev = threading.Event()

    def sample(self) -> None:
        kids = descendants(os.getpid())
        self.seen.update(kids)
        total = _rss_bytes(os.getpid()) + sum(_rss_bytes(p) for p in kids)
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_ev.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop_ev.set()
        self.join(timeout=5)
        self.sample()


# ------------------------------------------------------------ host noise

def cpu_probe_s(reps: int = 3) -> float:
    """Median time of a fixed pure-Python workload: a contended host shows
    here, independent of any change to the engine."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def job_floor_s(spark, reps: int = 3) -> float:
    """Median wall time of a no-op Spark job (``spark.range(1).count()``)."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(1).count()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ----------------------------------------------------------- Spark session

def start_spark(work: str):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("perfbench")
    for k, v in SPARK_CONF.items():
        b = b.config(k, v)
    b = b.config("spark.local.dir", os.path.join(work, "spark-local"))
    b = b.config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, sampler: TreeRss) -> None:
    """Stop Spark, the JVM and every process they started, and wait for
    each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    sampler.sample()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    reap(sampler.seen)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids, timeout: float = 20.0) -> None:
    """Wait until every pid in ``pids`` has ended; kill what outlives the
    timeout and wait for that too."""
    deadline = time.time() + timeout
    left = {p for p in pids if _alive(p)}
    while left and time.time() < deadline:
        time.sleep(0.1)
        left = {p for p in left if _alive(p)}
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 10
    while left and time.time() < deadline:
        time.sleep(0.05)
        left = {p for p in left if _alive(p)}
    if left:
        raise RuntimeError(f"processes did not end: {sorted(left)}")
