"""Shared run context: session sizing and set-up, process-tree memory,
Spark job accounting, spans and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SETUPS = 5                # session starts per run; setup_s is their median
DRIVER_MEM = "3g"         # below the 15 GB host, leaving room for Python workers
LATENCY_LIMIT_MS = 10_000  # fixed latency limit for the live workload


def _mem_kb(pid: int) -> int:
    """Resident memory of one process.  Small processes (the forked Python
    workers, which share most of their pages) count their proportional
    share; walking the JVM's pages for that would stall it, and it shares
    nothing worth splitting, so it counts its plain RSS."""
    with open(f"/proc/{pid}/statm") as fh:
        rss_kb = int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    if rss_kb > 512 * 1024:
        return rss_kb
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return rss_kb


def _tree_mem_kb(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, in KiB."""
    total = 0
    for pid in [root] + _descendants(root):
        try:
            total += _mem_kb(pid)
        except (OSError, ValueError, IndexError):
            continue
    return total


class MemorySampler(threading.Thread):
    """Samples the benchmark process tree (JVM and Python workers included)
    every ``interval`` seconds and keeps the peak."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        root = os.getpid()
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, _tree_mem_kb(root))
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        return self.peak_kb / 1024.0


@dataclass
class Tracer:
    """In-memory spans ``(name, start, end, parent)`` and counts, written
    out once at the end of a traced run."""

    spans: list[tuple[str, float, float, str | None]] = field(default_factory=list)
    values: dict[str, float] = field(default_factory=dict)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, start, time.perf_counter(), parent))
            self._stack.pop()

    def timed(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def last(self, name: str) -> float:
        for n, start, end, _ in reversed(self.spans):
            if n == name:
                return end - start
        raise KeyError(name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "values": self.values}, fh)


@dataclass
class Context:
    work: str          # scratch directory inside the checkout, removed at exit
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer = field(default_factory=Tracer)
    spark: object = None
    notes: list[str] = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def note(self, line: str) -> None:
        self.notes.append(line)


def configure_env(work: str) -> None:
    """Session sizing for this benchmark's own launch: every core of the
    host, a driver heap below the host's memory, and every temporary file
    inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def start_sessions(ctx: Context, prepare) -> float:
    """Start the session ``SETUPS`` times (the first launches the JVM; the
    rest restart the SparkContext in it), each followed by ``prepare()`` —
    the workload's driver-side set-up up to its first call.  Returns the
    median set-up time and leaves the last session open."""
    from dbc_informed_socketcan_to_parquet_spark.session import get_spark

    conf = {
        # -Xss: the streaming query thread analyses the windowed wide plan
        # recursively; the default stack overflows on it intermittently.
        # -Xms + pre-touch commit the whole heap at launch, so peak RSS
        # measures what lives outside it (Python workers, off-heap, code)
        # instead of when the collector chose to grow the heap.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={ctx.path('tmp')} -Xss16m -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
    }
    times, starts = [], []
    for i in range(SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = get_spark(extra_conf=conf)
        t1 = time.perf_counter()
        prepare()
        times.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer.values["session.jvm_start_s"] = starts[0]
    ctx.tracer.values["session.start_s"] = statistics.median(starts[1:])
    return statistics.median(times)


def job_counts(spark) -> dict[str, float]:
    """Jobs, stages, tasks and failed tasks the current SparkContext ran."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = failed = 0
    misses, job_id = 0, 0
    while misses < 50:
        info = tracker.getJobInfo(job_id)
        job_id += 1
        if info is None:
            misses += 1
            continue
        misses = 0
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
    return {"session.jobs": jobs, "session.stages": stages,
            "session.tasks": tasks, "session.failed_tasks": failed}


def batch_metrics(ctx: Context, result, checked_op, items: int, what: str, min_warm: int = 1) -> None:
    """The first ``checked_op(result, out)`` runs cold in the fresh session,
    as a CLI invocation does; warm operations follow until ``ctx.seconds``
    have passed and at least ``min_warm`` ran.  Throughput and the median
    latency are over the warm operations; the p99 latency is the slowest
    operation of the run (the cold one)."""
    times = []
    start = None
    i = 0
    while start is None or i <= min_warm or time.perf_counter() - start < ctx.seconds:
        if i == 1:
            start = time.perf_counter()
        out = ctx.path(f"out_{i}")
        wall = checked_op(result, out)
        if wall is not None:
            times.append((i, wall))
        cleanup(out)
        i += 1
    warm = [t for k, t in times if k > 0]
    if not warm:
        return
    result.metrics["throughput_per_s"] = items * len(warm) / sum(warm)
    result.metrics["latency_p50_ms"] = statistics.median(warm) * 1000.0
    result.metrics["latency_p99_ms"] = max(t for _, t in times) * 1000.0
    ctx.note(f"{what}_per_s {items * len(warm) / sum(warm):.1f} 1/s "
             f"({items} {what}, operations {[round(t, 2) for _, t in times]} s)")


def noop_time(df) -> float:
    """Force ``df`` through the ``noop`` sink; returns the wall time."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _descendants(root: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out = []
    for pid in parent:
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root and pid != root:
            out.append(pid)
    return out


def shutdown(ctx: Context) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended."""
    if ctx.spark is not None:
        try:
            ctx.spark.stop()
        except Exception:
            pass
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    parent = os.path.dirname(path)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def percentile_with_support(values: list[float], want: float = 0.99, min_beyond: int = 10):
    """The ``want`` quantile if at least ``min_beyond`` samples lie beyond
    it, else the highest quantile that has that support (the median at
    worst).  Returns (quantile used, value)."""
    s = sorted(values)
    n = len(s)
    q = want
    while q > 0.5 and n - 1 - int(q * n) < min_beyond:
        q = round(q - 0.01, 2)
    return q, s[min(n - 1, int(q * n))]
