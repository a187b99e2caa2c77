"""Run-health probes read from outside the program: JVM CPU and GC time,
Spark jobs and tasks by job group, process-tree RSS and load average.

They are recorded with every run, traced or not, so a noisy set of runs
can be told apart from a real regression without re-running.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_seconds(pid: int) -> float:
    """utime + stime of one process, from /proc/<pid>/stat."""
    fs = _stat_fields(pid)
    return 0.0 if fs is None else (int(fs[11]) + int(fs[12])) / _TICK


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (by scanning parent pids)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fs = _stat_fields(int(name))
        if fs is not None:
            children.setdefault(int(fs[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _resident_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (a forked child's copy-on-write pages) split among them, so
    a tree's total counts each page once. Falls back to RSS."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    fs = _stat_fields(pid)
    return 0 if fs is None else int(fs[21]) * _PAGE


def tree_rss_mb(root: int) -> float:
    return sum(_resident_bytes(pid) for pid in [root, *descendants(root)]) / 2**20


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the JVM and the Python workers it forks) on a background thread;
    ``peak_mb`` is the largest total seen."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


class JvmProbe:
    """CPU seconds and collector time of the driver JVM, plus Spark job
    and task counts by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gcs = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._tracker = self.sc.statusTracker()

    def cpu_s(self) -> float:
        return cpu_seconds(self.pid)

    def gc_ms(self) -> float:
        return float(sum(max(0, int(g.getCollectionTime())) for g in self._gcs))

    def set_group(self, group: str | None) -> None:
        """Tag jobs started from the calling thread. Sets only the group
        property, so the job descriptions the program sets stay intact."""
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def current_group(self) -> str | None:
        return self.sc.getLocalProperty("spark.jobGroup.id")

    def job_ids(self, group: str | None) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def tasks(self, job_ids) -> int:
        n = 0
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self._tracker.getStageInfo(s)
                if st is not None:
                    n += st.numTasks
        return n


def load1() -> float:
    return os.getloadavg()[0]


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def now() -> float:
    return time.perf_counter()
