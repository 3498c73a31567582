"""Measurements taken from outside the engine: process-tree memory from
``/proc``, bytes left in a directory, and per-call Spark statistics read from
the status store for the job group the benchmark sets around each call."""

from __future__ import annotations

import os
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from stats import covered_length

_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.2
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since import."""
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    todo = _children(root or os.getpid())
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.append(pid)
            todo.extend(_children(pid))
    return seen


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Background sampler of the summed RSS of this process and all its
    descendants (the driver JVM and Spark's Python workers). ``peak_mb`` is
    the largest sum seen since ``start``."""

    def __init__(self):
        self.peak_bytes = 0
        self.peak_jvm_bytes = 0  # the JVM's share of the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        jvm = other = 0
        for p in descendants(me):
            if _comm(p) == "java":
                jvm += _rss_bytes(p)
            else:
                other += _rss_bytes(p)
        total = _rss_bytes(me) + jvm + other
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_jvm_bytes = total, jvm

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def reset(self) -> None:
        self.peak_bytes = self.peak_jvm_bytes = 0
        self._sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)

    @property
    def peak_jvm_mb(self) -> float:
        return self.peak_jvm_bytes / (1 << 20)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from ``/proc/stat``; (0, 0) where
    there is none. Steal is time the hypervisor ran something else while a
    vCPU of this machine had work."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes of regular files, number of directories) below ``path``."""
    n_bytes = n_dirs = 0
    for dirpath, dirnames, filenames in os.walk(path):
        n_dirs += len(dirnames)
        for name in filenames:
            try:
                n_bytes += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return n_bytes, n_dirs


def wait_gone(pids, timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True


# ------------------------------------------------------------ Spark stats --

SESSION_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "exec_run_s",
    "exec_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
)


class CallTracer:
    """Times calls and, when ``enabled``, reads each call's Spark jobs and
    stages from the live status store (works with the UI off)."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.cores = self.sc.defaultParallelism
        self._n = 0
        self.records: list[dict] = []

    @contextmanager
    def call(self, name: str):
        """Run the body under a fresh job group; append one record with the
        call's wall time (and Spark statistics when enabled)."""
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name, interruptOnCancel=False)
        rec = {"name": name}
        t0_epoch = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            t1_epoch = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            if self.enabled:
                rec.update(self._group_stats(group, t0_epoch, t1_epoch))
            self.records.append(rec)

    def _group_stats(self, group: str, t0: float, t1: float) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {k: 0 for k in SESSION_COUNTERS}
        intervals = []
        job_ids = tracker.getJobIdsForGroup(group)
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never ran or was evicted
                    continue
                if st.numTasks() == 0 or not st.submissionTime().isDefined():
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                start = st.submissionTime().get().getTime() / 1e3
                end = (
                    st.completionTime().get().getTime() / 1e3
                    if st.completionTime().isDefined()
                    else t1
                )
                intervals.append((start, end))
        out["driver_s"] = (t1 - t0) - covered_length(intervals, t0, t1)
        return out
