"""Machinery shared by the three workloads.

* host-derived Spark resources and a private work directory inside the
  checkout (every temp file, Spark local dir, warehouse and event log
  lands there and is removed at exit);
* Spark session start and a full stop that waits for the driver JVM;
* a peak-RSS sampler for the driver JVM plus this Python process;
* spans: name, start, end, parent and operation id, kept in memory;
* the Spark event-log reader that turns jobs, stages and tasks into the
  ``spark.*`` layer metrics, joined to operations by a job property;
* small statistics helpers.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HEAP_SHARE = 0.5
HEAP_CAP_GB = 48
TAG_PREFIX = "pbop"
OP_PROPERTY = "perfbench.op"
# the engine keeps streaming checkpoints on tmpfs, outside the checkout
SHM_CHECKPOINTS = "/dev/shm/*_ckpt_*"


# --- host and sandbox ---------------------------------------------------


def host_resources() -> dict:
    """Spark resources derived from this host: every usable core, and
    a driver heap of about half of MemTotal, capped at 48g."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(re.search(r"MemTotal:\s+(\d+)", fh.read()).group(1))
    heap_gb = max(1, min(HEAP_CAP_GB, int(mem_kb * HEAP_SHARE / 1024**2)))
    return {
        "nproc": nproc,
        "mem_total_mb": mem_kb // 1024,
        "spark_graft_cpus": nproc,
        "spark_graft_driver_mem": f"{heap_gb}g",
    }


class Sandbox:
    """A work directory under the checkout that holds everything a run
    writes; entering it points TMPDIR, Spark and the engine there.  The
    engine's streaming checkpoints stay where the engine puts them, on
    tmpfs; those the run created are removed at exit."""

    def __init__(self, name: str):
        self.dir = ROOT / ".perfbench_work" / f"{name}-{os.getpid()}"

    def __enter__(self) -> "Sandbox":
        self.shm_before = set(glob.glob(SHM_CHECKPOINTS))
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "local", "layout", "warehouse", "eventlog", "data"):
            (self.dir / sub).mkdir(parents=True)
        os.environ["TMPDIR"] = str(self.dir / "tmp")
        tempfile.tempdir = str(self.dir / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.dir / "local")
        os.environ["SPARK_GRAFT_LAYOUT_CACHE"] = str(self.dir / "layout")
        # python workers import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        )
        if str(ROOT) not in sys.path:
            sys.path.insert(0, str(ROOT))
        return self

    def path(self, *parts: str) -> str:
        return str(self.dir.joinpath(*parts))

    def __exit__(self, *exc) -> None:
        for d in set(glob.glob(SHM_CHECKPOINTS)) - self.shm_before:
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(self.dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            self.dir.parent.rmdir()


# --- Spark lifecycle ----------------------------------------------------


def start_spark(box: Sandbox, res: dict, trace: bool):
    """Start the engine's session with host-derived resources.  The
    event log is switched on only in traced runs, through the engine's
    SPARK_GRAFT_CONF hook, uncompressed and unrolled so the standard
    library can read it."""
    os.environ["SPARK_GRAFT_CPUS"] = str(res["spark_graft_cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = res["spark_graft_driver_mem"]
    os.environ["SPARK_GRAFT_CONF"] = (
        "spark.eventLog.enabled=true;spark.eventLog.compress=false;"
        f"spark.eventLog.rolling.enabled=false;spark.eventLog.dir=file://{box.path('eventlog')}"
        if trace else ""
    )
    from iceberg_kafka_playgroud_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": box.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={box.path('tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- memory ---------------------------------------------------------------


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class PeakRss:
    """Samples RSS of the driver JVM plus this process every 50 ms
    while active; ``peak_mb`` is the largest sum seen."""

    def __init__(self, jvm: int, interval: float = 0.05):
        self.pids = (jvm, os.getpid())
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def live_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: what the
    engine keeps resident (memos, caches, plan and listener state)."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


# --- spans ----------------------------------------------------------------


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    op: str | None
    start: float  # epoch seconds
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans around each call into a layer.  Disabled, every
    method is a no-op apart from handing out operation ids.  Each
    operation is tagged with ``spark.addTag`` from the thread that runs
    it, and its id is set as the thread-local job property
    ``perfbench.op``.  Jobs join their operation through that property
    alone: session tags reach only SQL executions, while the property
    also reaches RDD actions such as ``toJSON().collect()`` and local
    checkpoints, and Spark copies it to adaptive-query and streaming
    threads."""

    enabled: bool
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    ops: dict[str, str] = field(default_factory=dict)  # op id -> kind
    timed_from: int = 0  # ops issued before this index are set-up or warm-up
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        if op is None:
            op = getattr(self._local, "op", None)
        start = time.time()
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, name, op, start, time.time()))

    @contextlib.contextmanager
    def operation(self, kind: str, name: str):
        """One timed operation (request, row, ingest, commit): a root
        span whose Spark jobs carry the operation's id as the
        ``perfbench.op`` property, and its tag."""
        with self._lock:
            op = f"{TAG_PREFIX}{len(self.ops) + 1}"
            self.ops[op] = kind
        if not self.enabled:
            yield op
            return
        self._local.op = op
        sc = self.spark.sparkContext
        self.spark.addTag(op)
        sc.setLocalProperty(OP_PROPERTY, op)
        try:
            with self.span(name, op):
                yield op
        finally:
            sc.setLocalProperty(OP_PROPERTY, None)
            self.spark.removeTag(op)
            self._local.op = None

    def start_timed(self) -> None:
        self.timed_from = len(self.ops)

    def timed_ops(self) -> set[str]:
        return set(list(self.ops)[self.timed_from:])

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__) + "\n")


# --- event log --------------------------------------------------------------

@dataclass
class Job:
    jid: int
    start: float  # epoch seconds
    end: float
    op: str | None
    stages: list[int]


@dataclass
class Stage:
    tasks: int = 0
    start: float = 0.0
    end: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0


def read_event_log(box: Sandbox) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs (with the operation they ran under, or None) and completed
    stages with summed task metrics, from the run's event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for name in os.listdir(box.path("eventlog")):
        with open(box.path("eventlog", name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    op = ev.get("Properties", {}).get(OP_PROPERTY)
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1e3, 0.0, op, ev["Stage IDs"]
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], Stage())
                    m = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage())
                    st.start = info.get("Submission Time", 0) / 1e3
                    st.end = info.get("Completion Time", 0) / 1e3
    return jobs, stages


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals; empty
    or unfinished (end before start) intervals count for nothing."""
    total, reach = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > reach and e > s:
            total += e - max(s, reach)
            reach = e
    return total


def spark_layer(tracer: Tracer, ops: set[str], events) -> dict[str, float]:
    """The ``spark.*`` layer over the given operations, per operation:
    jobs, tasks, driver gap (operation wall not covered by any of its
    jobs), stage wall, executor CPU, shuffle write, spill, GC and the
    count of single-task stages over 100 ms."""
    jobs, stages = events
    mine = [j for j in jobs.values() if j.op in ops]
    roots = {s.op: s for s in tracer.spans if s.parent is None and s.op in ops}
    gap = 0.0
    for op, sp in roots.items():
        covered = [(max(j.start, sp.start), min(j.end, sp.end)) for j in mine if j.op == op]
        gap += sp.dur - union_length(covered)
    stage_ids = {sid for j in mine for sid in j.stages if sid in stages}
    st = [stages[s] for s in stage_ids]
    n = max(1, len(ops))
    return {
        "spark.jobs": len(mine) / n,
        "spark.tasks": sum(s.tasks for s in st) / n,
        "spark.driver_gap_s": gap / n,
        "spark.stage_wall_s": sum(s.end - s.start for s in st) / n,
        "spark.executor_cpu_s": sum(s.cpu_s for s in st) / n,
        "spark.shuffle_write_bytes": sum(s.shuffle_write for s in st) / n,
        "spark.spill_bytes": sum(s.spill for s in st) / n,
        "spark.gc_s": sum(s.gc_s for s in st) / n,
        "spark.single_task_stages": sum(
            1 for s in st if s.tasks == 1 and s.end - s.start > 0.1
        ) / n,
    }


# --- catalyst ---------------------------------------------------------------


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning time (ms) of a frame's own
    QueryExecution; planning is forced if the frame was never planned."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        e = it.next()
        out[e._1()] = float(e._2().durationMs())
    return out


# --- statistics -----------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    """Linear-interpolated 90th percentile."""
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``cpu_ticks`` readings.  Recorded in the stderr line so that a
    slow run can be told apart from a slow host; it is not a metric."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def calibration_probe(spark, reps: int = 3) -> float:
    """Median wall (s) of a 10M-row sum: flags a degraded host."""
    out = []
    for i in range(reps + 1):
        t0 = time.perf_counter()
        spark.range(10_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
        if i:
            out.append(time.perf_counter() - t0)
    return median(out)
