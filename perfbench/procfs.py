"""Process-tree CPU and memory accounting from ``/proc``.

Spark's ``executorCpuTime`` sees only JVM task threads; pandas UDFs and
``applyInPandasWithState`` run in Python worker processes it never counts.
The tree rooted at the benchmark's own process covers all three parts of
the engine: the client Python process, the JVM it launched, and the
pyspark daemon and workers the JVM forks.

CPU of a process is ``utime + stime + cutime + cstime``: the last two hold
the CPU of children the process has already reaped (short-lived Python
workers), so nothing that ran is lost between samples.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses; fields after it
    # start two characters past the last ')'. Index 0 here is field 3.
    return data[data.rindex(")") + 2 :].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class ProcessTree:
    """Snapshots of CPU and resident memory of a process and its descendants."""

    def __init__(self, root: int | None = None) -> None:
        self.root = os.getpid() if root is None else root

    def _members(self) -> dict[int, list[str]]:
        stats: dict[int, list[str]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = _read_stat(int(entry))
                if st is not None:
                    stats[int(entry)] = st
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(int(st[1]), []).append(pid)
        out: dict[int, list[str]] = {}
        todo = [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(children.get(pid, ()))
        return out

    def descendants(self) -> list[int]:
        """Live processes below the root, not counting zombies the root
        has yet to reap."""
        return [
            pid for pid, st in self._members().items() if pid != self.root and st[0] != "Z"
        ]

    def snapshot(self) -> dict[str, float]:
        """CPU seconds of the whole tree and of its Python workers, and the
        tree's current resident memory in MB.

        Python workers are the ``python*`` processes below the root other
        than the root itself: the pyspark daemon and the workers it forks.
        """
        cpu = workers = rss = 0.0
        for pid, st in self._members().items():
            ticks = sum(int(x) for x in st[11:15])
            cpu += ticks
            comm = "" if pid == self.root else _comm(pid)
            # A JVM thread that spawns a helper (Hadoop runs readlink and
            # chmod) forks a child sharing the JVM's memory until it execs;
            # its comm is the thread's name. Counting it would double the
            # JVM for an instant, so resident memory counts only the root,
            # the JVM and Python processes.
            if pid == self.root or comm == "java" or comm.startswith("python"):
                rss += int(st[21])
            if comm.startswith("python"):
                workers += ticks
        return {
            "cpu_s": cpu / _TICK,
            "python_workers_cpu_s": workers / _TICK,
            "rss_mb": rss * _PAGE / 2**20,
        }


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over this machine's CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time."""
    st = _read_stat(os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(st[19]) / _TICK


class PeakRss:
    """Background sampler of the tree's resident memory.

    ``peak_mb`` is the largest sum of RSS seen at one instant since the
    last ``reset``; the sampling period bounds how short a peak it sees.
    """

    def __init__(self, tree: ProcessTree, period_s: float = 0.25) -> None:
        self._tree = tree
        self._period = period_s
        self._lock = threading.Lock()
        self._peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            rss = self._tree.snapshot()["rss_mb"]
            with self._lock:
                self._peak = max(self._peak, rss)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self._peak = 0.0

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
