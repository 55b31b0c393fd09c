"""Measurement helpers: percentiles, process memory, Spark job counters."""

from __future__ import annotations

import math
import os


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of a non-empty
    sequence — numpy's default method, without numpy."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sequence")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # The command name may hold spaces; ppid is the 2nd field after ')'.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _status_kb(pid: int, key: str) -> int:
    """One ``kB`` field of /proc/<pid>/status (0 if the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree() -> list[int]:
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """User plus system CPU time of this process and every descendant (all
    threads of each), in seconds. Steal time is not charged to processes,
    so this is steadier than wall time on a shared host."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / tick


def retained_mb(spark) -> float:
    """Memory the program still holds after its operations, in MiB: the
    JVM heap in use after a full collection (cached tables, broadcast and
    plan state that outlive a request) plus this Python process's resident
    set. Unlike a peak, it does not depend on when the collector ran."""
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    spark.sparkContext._jvm.java.lang.System.gc()
    heap = rt.totalMemory() - rt.freeMemory()
    return heap / 2**20 + _status_kb(os.getpid(), "VmRSS") / 1024.0


def jvm_times_s(spark) -> dict[str, float]:
    """Cumulative garbage-collection and JIT-compilation time of the JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"gc_s": gc / 1000.0, "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0}


def peak_rss_mb() -> float:
    """Peak resident set of this process plus every descendant (the JVM
    that PySpark launches), summed, in MiB. Linux only."""
    return sum(_status_kb(pid, "VmHWM") for pid in _tree()) / 1024.0


class JobCounter:
    """Spark jobs/stages/tasks started since the last :meth:`take`, read
    from outside the program through ``SparkContext.statusTracker()``. Job
    ids are dense and increasing, so the jobs of one operation are the ids
    between two watermarks."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.next_id = self._max_id() + 1

    def max_id(self) -> int:
        """Highest job id started so far, after the status store caught up."""
        self._drain()
        return self._max_id()

    def _max_id(self) -> int:
        st = self.sc.statusTracker()
        ids = list(st.getJobIdsForGroup(None)) + list(st.getActiveJobsIds())
        return max(ids, default=-1)

    def _drain(self) -> None:
        # The status store is fed by an asynchronous listener bus; let it
        # catch up so finished stages report their task counts.
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(2000)
        except Exception:  # noqa: BLE001 — best effort, counts may lag
            pass

    def take(self) -> dict[str, int]:
        self._drain()
        st = self.sc.statusTracker()
        last = self._max_id()
        jobs = stages = tasks = 0
        for jid in range(self.next_id, last + 1):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stages += 1
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
        self.next_id = last + 1
        return {"jobs": jobs, "stages": stages, "tasks": tasks}
