"""Process-tree CPU and RSS from /proc.

The JVM's task CPU counters cannot see the Python workers, so CPU-seconds
are read for the whole tree under this process: the driver itself, the
Spark JVM it launched, the ``pyspark.daemon`` and its forked workers.
A process that exited and was reaped is still counted, through its
parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class TreeSample:
    cpu_s: float  # whole tree, this process included
    py_worker_cpu_s: float  # Python processes below the JVM
    rss_mb: float


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, cpu ticks incl. reaped children, rss pages)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while we listed
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[0] is field 3 of proc(5): state
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        table[int(entry)] = (ppid, comm, ticks, int(fields[21]))
    return table


def cpu_clock() -> tuple[float, float]:
    """(all CPU seconds, stolen CPU seconds) of the machine since boot.

    Steal is time the hypervisor ran another guest while this one had work:
    the part of a slow draw that no change to the program explains.
    """
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    steal = ticks[7] if len(ticks) > 7 else 0
    return sum(ticks[:8]) / _CLK, steal / _CLK


def descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return [p for p in out if p in table]


def sample(root: int | None = None) -> TreeSample:
    root = root or os.getpid()
    table = _proc_table()
    cpu = py = rss = 0
    for pid in descendants(root, table):
        _ppid, comm, ticks, pages = table[pid]
        cpu += ticks
        rss += pages
        if pid != root and comm.startswith("python"):
            py += ticks
    return TreeSample(cpu / _CLK, py / _CLK, rss * _PAGE / 1e6)


class PeakRss:
    """Samples the tree's RSS on a background thread; ``peak_mb`` after
    ``stop()``."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.peak_mb = 0.0
        self._period = period_s
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, sample().rss_mb)
            self._halt.wait(self._period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._halt.set()
        self._thread.join()


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def wait_for_exit(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Poll until none of ``pids`` runs; returns the ones still running."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    return alive
