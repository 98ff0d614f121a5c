"""What every workload shares: the work directory inside the checkout, the
environment the engine runs in, the Spark session, process memory read
from ``/proc``, span tracing and Spark's own status counters.

Importing this module starts nothing; ``prepare_environment`` must run
before ``pyspark`` is imported, because the JVM and its Python workers take
their temporary directories from the environment at launch.
"""

from __future__ import annotations

import math
import os
import platform
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

# Spark settings the benchmark applies on every commit it measures.
SPARK_SETTINGS = {
    # Input split size: the day archive spans several splits, so the
    # boundary repair in ``reassemble`` runs.
    "spark.sql.files.maxPartitionBytes": str(1 << 19),
}
DRIVER_MEMORY = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(workload: str, launch_conf: dict[str, str]) -> str:
    """Create a fresh work directory and point every temporary path of the
    JVM, Spark and Python there; ``launch_conf`` holds Spark settings that
    must be fixed before the JVM starts. Returns the work directory."""
    work = os.path.join(WORK, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        **launch_conf,
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    os.environ["PINCSPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    return work


def start_spark(app: str):
    """The engine's own session factory plus the benchmark's settings."""
    from pincspark.session import get_spark

    spark = get_spark(app, cpus=cpus())
    for k, v in SPARK_SETTINGS.items():
        spark.conf.set(k, v)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fingerprint(spark=None) -> dict:
    """Machine and software versions recorded with every result."""
    out = {"nproc": cpus(), "python": platform.python_version(), "machine": platform.machine()}
    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        out["java"] = (java.stderr or java.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        out["java"] = "unknown"
    if spark is not None:
        out["spark"] = spark.version
    return out


# ---------------------------------------------------------------------------
# Process memory from /proc
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """High-water mark of the summed resident memory of this process and
    its descendants (the driver JVM and Spark's Python workers), sampled
    every 0.25 s. Processes listed in ``exclude`` and their descendants —
    the load generator and the clients — are not counted."""

    PERIOD_S = 0.25

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self.peak_by_process: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        kids = _children()
        parts = {}
        stack = [os.getpid()]
        while stack:
            pid = stack.pop()
            if pid in self.exclude:
                continue
            parts[pid] = _rss_kb(pid)
            stack.extend(kids.get(pid, ()))
        total = sum(parts.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_by_process = {f"{_comm(pid)}:{pid}": kb // 1024 for pid, kb in parts.items()}
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Tracing: spans and counts recorded by the benchmark around layer calls
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    trace_id: int


@dataclass
class Tracer:
    """In-memory spans, written out once when the run ends. A disabled
    tracer records nothing and costs one attribute check per span."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)
    trace_id: int = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, t0, time.perf_counter(), parent, self.trace_id))

    def busy(self, name: str) -> float:
        """Median span duration of ``name`` across traces."""
        d = [s.end - s.start for s in self.spans if s.name == name]
        return statistics.median(d) if d else 0.0

    def to_json(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def span_cost() -> float:
    """Measured seconds one span adds around a call, on a scratch tracer
    (mean of 10,000 empty spans)."""
    n = 10_000
    scratch = Tracer(enabled=True)
    t0 = time.perf_counter()
    for _ in range(n):
        with scratch.span("x"):
            pass
    return (time.perf_counter() - t0) / n


# ---------------------------------------------------------------------------
# Spark status store: per-stage counters of the jobs in a job group
# ---------------------------------------------------------------------------


@dataclass
class StageTotals:
    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    task_skew: float = 0.0  # max / median task time of the widest stage


def stage_totals(spark, group: str) -> StageTotals:
    """Sum the status-store counters of every stage run under ``group``
    (set with ``SparkContext.setJobGroup``)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = StageTotals()
    widest = (0, 0.0)
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out.jobs += 1
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            out.tasks += st.numTasks()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out.executor_run_s += st.executorRunTime() / 1000.0
            out.gc_s += st.jvmGcTime() / 1000.0
            if st.numTasks() > widest[0]:
                tasks = store.taskList(sid, st.attemptId(), st.numTasks())
                d = [tasks.apply(i).duration().get() for i in range(tasks.length())
                     if tasks.apply(i).duration().isDefined()]
                if d and statistics.median(d) > 0:
                    widest = (st.numTasks(), max(d) / statistics.median(d))
    out.task_skew = widest[1]
    return out


def dir_bytes(path: str) -> int:
    """Bytes of the parquet files under ``path``."""
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files if f.endswith(".parquet"))
    return total


def quantile(values: list[float], q: float) -> float:
    """The ``q`` quantile (0..1) with linear interpolation; infinite when
    nothing arrived."""
    if not values:
        return math.inf
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)
