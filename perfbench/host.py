"""Host-side measurement from /proc: session sizing, CPU time of the Spark
JVM plus its Python worker tree, and the peak RSS of the Python workers.

Everything here reads the process tree from outside; nothing is injected
into the job. ``wait_gone`` waits for the end of processes that are not our
children.
"""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of MemAvailable, clamped to [1, 4] GiB: in local mode the
    driver JVM is the only executor, and the Python workers and the OS page
    cache need the rest."""
    with open("/proc/meminfo") as f:
        info = {line.split(":")[0]: int(line.split()[1]) for line in f}
    return max(1024, min(4096, info["MemAvailable"] // 4096))


def _stat(pid: int):
    """(ppid, utime+stime, cutime+cstime) in clock ticks, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    return int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s(jvm_pid: int) -> tuple[float, float]:
    """CPU seconds (user+sys) of the JVM, and of every process below it. A
    descendant's reaped children are in its cutime; the JVM's own cutime is
    left out, because it holds the Python daemons of earlier sessions."""
    below = 0
    for pid in descendants(jvm_pid):
        st = _stat(pid)
        if st is not None:
            below += st[1] + st[2]
    return _stat(jvm_pid)[1] / CLK_TCK, below / CLK_TCK


def _alive(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait until every process in ``pids`` has ended. They are not our
    children (the Python daemons the JVM forks), so they cannot be waited
    for; they are polled, and killed once ``timeout_s`` has passed."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if _alive(p)]
    while left:
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]


def _vm_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class WorkerRss(threading.Thread):
    """Polls the Python workers (the processes the pyspark daemons fork, so
    grandchildren of the JVM) and keeps each one's peak RSS (VmHWM)."""

    # VmHWM is the kernel's own high-water mark, so a worker's peak is exact
    # whenever it is read before the worker exits; workers live until their
    # session stops, and stop() reads once more before that. A long period
    # keeps the poller's CPU out of the timed job
    PERIOD_S = 0.5

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self._jvm = jvm_pid
        self._done = threading.Event()
        self.peak_kb: dict[int, int] = {}

    def _poll(self) -> None:
        for pid in descendants(self._jvm):
            st = _stat(pid)
            if st is None or st[0] == self._jvm:  # gone, or a daemon itself
                continue
            hwm = _vm_hwm_kb(pid)
            if hwm is not None:
                self.peak_kb[pid] = max(hwm, self.peak_kb.get(pid, 0))

    def run(self) -> None:
        while not self._done.wait(self.PERIOD_S):
            self._poll()

    def stop(self) -> float:
        """Stop polling; the summed peak RSS of every worker seen, in MiB."""
        self._done.set()
        self.join()
        self._poll()
        return sum(self.peak_kb.values()) / 1024.0
