"""CPU and RSS of the benchmark's own process tree, read under /proc,
and a host-speed canary.

The tree is this process and every descendant: the gateway JVM Spark
starts and the Python workers under it.  CPU is summed as
``utime + stime + cutime + cstime`` over the live tree: a live process
counts through its own fields, and one that exited and was reaped
counts through its parent's ``cutime``/``cstime``, so every process is
counted once.  ``getrusage(RUSAGE_CHILDREN)`` cannot stand in: nothing
reaps the JVM or its workers while the session lives.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after ")"
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and its descendants, from the ppid field of every
    process visible under /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int) -> tuple[float, float]:
    """(CPU seconds, RSS MB) summed over the tree of ``root``."""
    cpu_ticks = 0
    rss_pages = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is None:
            continue
        # fields after the name: state=0 ppid=1 ... utime=11 stime=12
        # cutime=13 cstime=14 starttime=19 rss=21 (man 5 proc, minus 3)
        cpu_ticks += sum(int(v) for v in st[11:15])
        rss_pages += int(st[21])
    return cpu_ticks / _TICK, rss_pages * _PAGE / 1e6


SAMPLE_S = 0.2   # RSS sampling period


class TreeSampler:
    """Samples the summed RSS of this process's tree every ``SAMPLE_S``
    seconds on a thread and reads its CPU at start, at each ``lap`` and
    at stop.  Use as a context manager around the timed region."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            _, rss = tree_usage(self.root)
            self.peak_rss_mb = max(self.peak_rss_mb, rss)
            self._stop.wait(SAMPLE_S)

    def __enter__(self) -> "TreeSampler":
        self._cpu0, rss = tree_usage(self.root)
        self._lap0 = self._cpu0
        self.peak_rss_mb = rss
        self._thread.start()
        return self

    def lap(self) -> float:
        """CPU seconds of the tree since the previous lap or the start."""
        cpu, _ = tree_usage(self.root)
        lap, self._lap0 = cpu - self._lap0, cpu
        return lap

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        cpu1, rss = tree_usage(self.root)
        self.peak_rss_mb = max(self.peak_rss_mb, rss)
        self.cpu_s = cpu1 - self._cpu0


def process_age_s() -> float:
    """Seconds since this process started (its /proc start time)."""
    st = _stat(os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(st[19]) / _TICK


def canary(spark) -> dict:
    """Fixed work on one core in Python and on the JVM, timed.  Printed
    beside each run as context for outliers; not a metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    py_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 1).selectExpr("sum(hash(id))").collect()
    jvm_s = time.perf_counter() - t0
    return {"python_s": round(py_s, 4), "jvm_s": round(jvm_s, 4)}
