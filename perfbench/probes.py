"""Counters read around the benchmark's calls into the program.

Every reader here is side-effect free on the program: it observes the
Python driver, the Py4J gateway, the JVM's management beans, Spark's
status store and ``/proc``.  None of them starts a Spark job.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Host context and process CPU from /proc
# ---------------------------------------------------------------------------


def steal_s() -> float:
    """CPU-seconds the hypervisor has taken from this machine since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


def host_context() -> dict:
    """Core count, load average, CPU pressure and steal, as read now."""
    ctx = {"nproc": os.cpu_count(), "steal_s": steal_s()}
    try:
        with open("/proc/loadavg") as fh:
            ctx["loadavg"] = [float(x) for x in fh.read().split()[:3]]
    except OSError:
        ctx["loadavg"] = None
    try:
        with open("/proc/pressure/cpu") as fh:
            ctx["cpu_pressure"] = fh.read().strip().splitlines()
    except OSError:
        ctx["cpu_pressure"] = None
    return ctx


def _stat(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields restart after the last ')'.
    return raw[raw.rindex(")") + 2 :].split()


def _cpu_ticks(fields: list[str]) -> int:
    # utime stime cutime cstime: own CPU plus that of reaped children.
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int) -> float:
    """CPU-seconds of ``root`` and every live descendant (plus what
    their reaped children used).  For the Spark JVM this covers the
    executors' threads and the Python worker daemon and its workers."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat(name)
        if f is None:
            continue
        pid = int(name)
        ticks[pid] = _cpu_ticks(f)
        children.setdefault(int(f[1]), []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def self_cpu_s() -> float:
    """Driver Python CPU-seconds (all threads)."""
    return time.process_time()


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int:
    """Pid of the JVM that PySpark launched for this session."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        return proc.pid
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def proc_tree(root: int) -> list[int]:
    """``root`` and its live descendants, deepest first."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(name)
            if f is not None:
                parent[int(name)] = int(f[1])
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(p for p, pp in parent.items() if pp == pid)
    return out[::-1]


# ---------------------------------------------------------------------------
# Py4J call counter
# ---------------------------------------------------------------------------


class Py4JCounter:
    """Counts Py4J *call* commands sent by the driver.

    Wraps the gateway client's ``send_command``.  Only call commands
    (``c\\n``) count: object-release messages that Python's garbage
    collector sends through the same method arrive at arbitrary times
    and would make the count differ between identical runs.
    """

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self._lock = threading.Lock()
        self.calls = 0
        orig = self._orig

        def send_command(command, *args, **kwargs):
            if command.startswith("c\n"):
                with self._lock:
                    self.calls += 1
            return orig(command, *args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


# ---------------------------------------------------------------------------
# JVM management beans
# ---------------------------------------------------------------------------


class JvmBeans:
    """Cumulative JIT and GC milliseconds of the Spark JVM."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def jit_s(self) -> float:
        return self._jit.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1000.0


# ---------------------------------------------------------------------------
# Spark scheduler: job/stage id watermarks and stage metrics
# ---------------------------------------------------------------------------


def _int(v) -> int:
    # Py4J hands back a plain int or an AtomicInteger proxy depending
    # on how the Scala field is compiled.
    return v if isinstance(v, int) else v.get()


class Scheduler:
    """Job and stage accounting by id interval.

    Ops run one after another, so the jobs and stages an op caused are
    exactly those whose ids were allocated between its start and end
    watermarks — including jobs submitted from the program's own thread
    pools, which do not inherit the caller's job group.
    """

    STAGE_FIELDS = (
        "numCompleteTasks",
        "executorRunTime",
        "executorCpuTime",
        "jvmGcTime",
        "inputBytes",
        "outputBytes",
        "shuffleReadBytes",
        "shuffleWriteBytes",
        "memoryBytesSpilled",
        "diskBytesSpilled",
    )

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._dag = sc._jsc.sc().dagScheduler()
        self._store = sc._jsc.sc().statusStore()

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id)."""
        return _int(self._dag.nextJobId()), _int(self._dag.nextStageId())

    def stages(self, lo: int, hi: int) -> dict:
        """Summed metrics of the stages with ids in ``[lo, hi)`` that
        ran (skipped stages are allocated an id but do no work)."""
        # stageList has Scala default arguments, which Py4J cannot
        # fill in: pass every one explicitly.
        empty_q = self._gw.new_array(self._jvm.double, 0)
        empty_l = self._jvm.java.util.ArrayList()
        seq = self._store.stageList(None, False, False, empty_q, empty_l)
        it = seq.iterator()
        out = {k: 0 for k in self.STAGE_FIELDS}
        out["stages"] = 0
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if not (lo <= sid < hi) or s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for k in self.STAGE_FIELDS:
                out[k] += getattr(s, k)()
        return out
