"""CPU and memory of a process tree, read from /proc (psutil is not installed).

The tree is a root process plus every live descendant.  For a benchmark
run that is the driver Python process, the JVM that PySpark launches, the
pyspark daemon and its Python workers.  CPU per process is
utime + stime + cutime + cstime, so a worker that exits and is reaped by
the daemon still counts through the daemon's cutime.  Spark's own
``executorCpuTime`` counts JVM task threads only; the difference between
the two is the Python-worker (and driver) CPU that Spark does not see.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> tuple[int, int, int, int, bool]:
    """(ppid, cpu ticks incl. reaped children, vsize, rss pages, is zombie)
    of one process."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        data = f.read()
    # the command name (field 2) may hold spaces and parentheses; every
    # later field follows its LAST closing parenthesis
    fields = data[data.rindex(b")") + 2:].split()
    ppid = int(fields[1])
    ticks = int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])
    return ppid, ticks, int(fields[20]), int(fields[21]), fields[0] == b"Z"


def _tree(root: int | None) -> list[tuple[int, tuple[int, int, int, int, bool]]]:
    """(pid, stat) of ``root`` (default: this process) and every live
    descendant."""
    root = os.getpid() if root is None else root
    procs: dict[int, tuple[int, int, int, int, bool]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = _stat(name)
            except (OSError, ValueError, IndexError):
                continue  # exited between listdir and read
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append((pid, procs[pid]))
            stack.extend(children.get(pid, ()))
    return out


def snapshot(root: int | None = None) -> tuple[float, int]:
    """(cpu_seconds, rss_bytes) summed over the tree of ``root``.

    A child whose address space has its parent's size has just been forked
    or spawned (the JVM's jspawnhelper shares the JVM's memory until it
    execs): its resident pages are the parent's, so they count once."""
    tree = _tree(root)
    vsize = {pid: v for pid, (_, _, v, _, _) in tree}
    rss = sum(r for i, (_, (ppid, _, v, r, _)) in enumerate(tree) if i == 0 or vsize.get(ppid) != v)
    return sum(t for _, (_, t, _, _, _) in tree) / _CLK_TCK, rss * _PAGE


def descendants(root: int | None = None) -> list[int]:
    """Running (not zombie) descendants of ``root`` (default: this process)."""
    return [pid for pid, (*_, zombie) in _tree(root)[1:] if not zombie]


def running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        return not _stat(str(pid))[-1]
    except (OSError, ValueError, IndexError):
        return False


def cpu_seconds(root: int | None = None) -> float:
    return snapshot(root)[0]


class PeakRss:
    """Background sampler of the tree's resident memory; ``stop()`` returns
    the peak in bytes seen since ``start()``."""

    def __init__(self, interval_s: float = 0.2, root: int | None = None):
        self.interval_s = interval_s
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, snapshot(self.root)[1])
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PeakRss":
        self.peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.peak = max(self.peak, snapshot(self.root)[1])
        return self.peak
