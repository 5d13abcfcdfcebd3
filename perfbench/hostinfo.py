"""Host record, the single-thread probe, and the process-tree RSS sampler."""

from __future__ import annotations

import os
import platform
import sys
import threading
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_probe(seconds: float = 0.1) -> float:
    """Single-thread numpy throughput (iterations/s) over a short window.

    Read before every rep so a slow rep can be matched to a slow host;
    it is a diagnosis aid and normalizes no metric. Elementwise numpy
    ops stay on one thread whatever the BLAS threading.
    """
    import numpy as np

    a = np.linspace(0.0, 1.0, 65536)
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        a = np.sqrt(a * a + 1.0) - 0.5
        n += 1
    return n / (time.perf_counter() - t0)


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over all CPUs (the `steal` column of /proc/stat). A rising count
    during a rep means the rep ran on a contended host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_record(spark) -> dict:
    return {
        "nproc": nproc(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "platform": platform.platform(),
    }


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields restart after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes() -> int:
    """Resident bytes of this process and all its descendants (the driver
    Python process, the JVM it launched, and the JVM's Python workers)."""
    kids = children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
        todo.extend(kids.get(pid, []))
    return total


class PeakRss:
    """Background sampler of `tree_rss_bytes`; `peak` is the largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
