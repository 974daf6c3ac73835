"""CPU time and resident memory of this process tree, read from /proc.

The tree is the benchmark's Python driver plus every descendant: the
Spark JVM it launches and the PySpark daemon and Python workers the JVM
forks. Each process is classed by its command line, so CPU can be split
into ``driver``, ``jvm`` and ``workers``. Spark's own
``executorCpuTime`` counts only JVM task threads and misses the Python
workers, where the extraction kernel runs.

CPU of a process is utime + stime + cutime + cstime: the child terms keep
CPU of workers that exited (and were reaped by the daemon) inside the
tree, so a before/after difference stays whole when workers come and go.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
ROLES = ("driver", "jvm", "workers")


def _read_stat(pid: str):
    """(ppid, cpu seconds, rss bytes) of one pid, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after "(comm)": state ppid ... utime(11) stime(12)
    # cutime(13) cstime(14) ... rss(21), counted from state = 0
    rest = raw[raw.rindex(b")") + 2:].split()
    cpu = sum(int(x) for x in rest[11:15]) / _TICK
    return int(rest[1]), cpu, int(rest[21]) * _PAGE


def _role(pid: str, root: str) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return "other"
    if os.path.basename(cmd.split(b"\0", 1)[0]) == b"java":
        return "jvm"
    return "workers" if b"pyspark" in cmd else "other"


def tree(root: int | None = None) -> dict[str, tuple[int, float, int]]:
    """pid → (ppid, cpu_s, rss_bytes) for root and all its descendants."""
    root_s = str(root or os.getpid())
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _read_stat(pid)
            if st is not None:
                stats[pid] = st
    children: dict[str, list[str]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(str(ppid), []).append(pid)
    out, todo = {}, [root_s]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def sample(root: int | None = None) -> dict[str, float]:
    """CPU seconds by role, plus ``total`` and ``rss_bytes`` of the tree."""
    root_s = str(root or os.getpid())
    cpu = dict.fromkeys(ROLES + ("other",), 0.0)
    rss = 0
    for pid, (_, c, r) in tree(root).items():
        cpu[_role(pid, root_s)] += c
        rss += r
    cpu["total"] = sum(cpu[k] for k in ROLES + ("other",))
    cpu["rss_bytes"] = float(rss)
    return cpu


def delta(before: dict, after: dict) -> dict[str, float]:
    return {k: after[k] - before[k] for k in ROLES + ("total",)}


def descendants(root: int | None = None) -> list[int]:
    own = str(root or os.getpid())
    return [int(p) for p in tree(root) if p != own]


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak`` in bytes."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while True:
            self.peak = max(self.peak, sample()["rss_bytes"])
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, sample()["rss_bytes"])


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return True
    return raw[raw.rindex(b")") + 2:raw.rindex(b")") + 3] == b"Z"
