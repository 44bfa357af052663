"""Shared harness: hermetic run directories, session set-up and
teardown, memory sampling, spans and Spark job accounting.

Spans are recorded only from the benchmark's own files, around calls
into the program's public functions; nothing here reaches inside the
program.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot,
    summed over its CPUs (the ``steal`` column of /proc/stat). Its
    growth across a timed region shows how much a run's times owe to
    the host rather than the program."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


class RunDir:
    """One private directory per run holding the generated inputs and
    every directory Spark or the program writes to, removed on close."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(WORK_ROOT, f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("data", "tmp", "local", "warehouse", "checkpoint"):
            os.makedirs(os.path.join(self.path, sub))
        os.environ["TMPDIR"] = self.sub("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        tempfile.tempdir = None  # re-read TMPDIR

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def session_conf(run_dir: RunDir) -> dict[str, str]:
    """Only what keeps the run hermetic; every tuning knob stays at the
    engine's shipped ``get_spark`` default."""
    return {
        "spark.sql.warehouse.dir": run_dir.sub("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir.sub('tmp')}",
    }


class Session:
    """Owns the SparkSession and the JVM its set-up launches."""

    def __init__(self, run_dir: RunDir):
        self.run_dir = run_dir
        self.spark = None
        self.jvm_proc = None

    def setup(self, build):
        """Cold set-up: ``get_spark``, which launches the JVM, plus
        ``build(spark)`` (engine construction and whatever the program
        does before serving). Returns (set-up seconds, ``get_spark``
        seconds, build's result)."""
        from pyspark import SparkContext

        from providenciasbigdata_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", extra_conf=session_conf(self.run_dir)
        )
        t1 = time.perf_counter()
        out = build(self.spark)
        sec = time.perf_counter() - t0
        self.spark.sparkContext.setCheckpointDir(self.run_dir.sub("checkpoint"))
        self.jvm_proc = getattr(SparkContext._gateway, "proc", None)
        return sec, t1 - t0, out

    def close(self) -> None:
        """Stop Spark, end the JVM and its Python workers, wait for each."""
        from pyspark import SparkContext

        pids = descendants(self.jvm_proc.pid) if self.jvm_proc else []
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm_proc is not None:
            try:
                self.jvm_proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                self.jvm_proc.wait(timeout=20)
            except Exception:
                self.jvm_proc.kill()
                self.jvm_proc.wait(timeout=10)
        for pid in pids:
            _kill_and_reap(pid)


def _kill_and_reap(pid: int) -> None:
    import signal

    try:
        os.kill(pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(100):
        if not os.path.exists(f"/proc/{pid}"):
            return
        time.sleep(0.05)


# ---- CPU time --------------------------------------------------------------


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks:
    its threads, plus children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(f) for f in fields[11:15])


class CpuMeter:
    """CPU seconds the program spends over a timed region.

    Two parts: every thread of the driver JVM and of its Python workers
    over the whole region (so JIT, GC and task threads count, also when
    they run between operations), and this process's main thread inside
    the operations only (py4j calls and result conversion, not the
    reference checks, the memory sampler or a load-generator thread).
    The kernel charges a thread only for time it ran: time the
    hypervisor took from a virtual CPU is counted as steal, not as the
    thread's, so unlike wall time this figure does not grow with the
    time a busy host keeps the program waiting."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.main_s = 0.0
        self.jvm_s = 0.0
        self._jvm0 = 0.0

    def _jvm_now(self) -> float:
        pids = [self.jvm_pid, *descendants(self.jvm_pid)]
        return sum(_cpu_ticks(p) for p in pids) / os.sysconf("SC_CLK_TCK")

    def __enter__(self):
        self._jvm0 = self._jvm_now()
        return self

    def __exit__(self, *exc):
        self.jvm_s = self._jvm_now() - self._jvm0

    @contextmanager
    def op(self):
        """Count this thread's CPU time inside the block."""
        t0 = time.thread_time()
        try:
            yield
        finally:
            self.main_s += time.thread_time() - t0

    @property
    def total_s(self) -> float:
        return self.main_s + self.jvm_s


# ---- memory --------------------------------------------------------------


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _proc_children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python workers,
    summed over the process tree and sampled every ``interval`` s."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total = sum(_rss_kb(p) for p in [self.pid, *descendants(self.pid)])
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and request id. A
    disabled tracer records nothing and costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request_id = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> list[dict]:
        """Each span with ``self`` = its duration minus the part of it
        its child spans cover (children never overlap: one thread)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return [
            {**s, "self": (s["end"] - s["start"]) - child_time[i]}
            for i, s in enumerate(self.spans)
        ]

    def by_name(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for s in self.self_times():
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "durations": []})
            agg["calls"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += s["self"]
            agg["durations"].append(s["end"] - s["start"])
        return out


class JobCounter:
    """Spark jobs and tasks started under one job group, read back from
    the status tracker after the request."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def count(self, group: str) -> tuple[int, int]:
        job_ids = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return len(job_ids), tasks


# ---- statistics ------------------------------------------------------------


def percentile(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return percentile(values, 50)
