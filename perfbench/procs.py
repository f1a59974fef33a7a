"""Process-level helpers: RSS and CPU time of the Spark driver tree, the
host's CPU steal, JVM GC, the run directory's residency, and shutting the
session down so that no process outlives the benchmark.

Everything reads ``/proc``; nothing here needs a package beyond the
standard library.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows the closing paren
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree(pid: int) -> list[int]:
    """``pid`` and all of its descendants."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids``, including the children they
    have reaped (the pyspark daemon reaps its Python workers)."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def driver_cpu_s() -> float:
    """CPU seconds of this Python driver, the driver JVM and the JVM's
    pyspark daemon and workers."""
    return cpu_s([os.getpid()] + tree(jvm_pid()))


def peak_rss_mb() -> float:
    """Sum of each process's own peak RSS (VmHWM) over the driver JVM and
    its pyspark daemon and workers: an upper bound on their joint peak,
    read once, so nothing samples during the timed operations."""
    total = 0.0
    for p in tree(jvm_pid()):
        try:
            with open(f"/proc/{p}/status") as fh:
                kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
            total += kb * 1024 / 1e6
        except (OSError, StopIteration):
            pass
    return total


def jvm_gc(spark) -> None:
    """Full GC between operations: the shuffle files and broadcast blocks
    of a finished operation are only cleaned once the driver collects
    their references, so without it the local dirs and heap grow run
    over run."""
    spark.sparkContext._jvm.System.gc()


def residency_mb(work: str) -> float:
    """MB of files under ``work``: what the run's operations left behind."""
    used = 0
    for d, _, files in os.walk(work):
        for f in files:
            try:
                used += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return used / 1e6


class Steal:
    """Share of CPU time the host took from this VM (``steal`` in
    /proc/stat) between two calls; host contention shows here and
    nowhere else in a run's own numbers."""

    def __init__(self):
        self._t0 = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    def share(self) -> float:
        d = [b - a for a, b in zip(self._t0, self._read())]
        return d[7] / max(sum(d), 1)


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    alive = pids
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


def shutdown(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    every pyspark daemon/worker it started have exited (killing any that
    linger)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc if gateway is not None else None
    pids = tree(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            for p in _wait_gone(pids[1:], 10):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            _wait_gone(pids[1:], 10)
            SparkContext._gateway = None
            SparkContext._jvm = None
