"""Process-tree accounting from ``/proc``: summed RSS and CPU seconds of
the Python driver, the driver JVM and the Python workers under it."""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def _table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited between listdir and open
        # fields after "comm)": state ppid ... utime(11) stime cutime cstime ... rss(21)
        out[int(name)] = (int(rest[1]), sum(int(v) for v in rest[11:15]), int(rest[21]))
    return out


def _descendants(table, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in table and pid not in seen:
            seen.add(pid)
            todo.extend(kids.get(pid, ()))
    return seen


def tree_rss_mb() -> float:
    """Summed RSS of this process and every descendant, in MB."""
    table = _table()
    pages = sum(table[p][2] for p in _descendants(table, os.getpid()))
    return pages * PAGE / 2**20


def tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant (reaped
    descendants count through their parents)."""
    table = _table()
    return sum(table[p][1] for p in _descendants(table, os.getpid())) / TICK


def cpu_split(jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds of the driver Python, the JVM and the JVM's Python
    descendants (workers; reaped workers count through their parent)."""
    table = _table()
    me = os.getpid()
    workers = _descendants(table, jvm_pid) - {jvm_pid} if jvm_pid in table else set()
    return {
        "driver_py": table[me][1] / TICK,
        "jvm": table[jvm_pid][1] / TICK if jvm_pid in table else 0.0,
        "worker_py": sum(table[p][1] for p in workers) / TICK,
    }


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the host's aggregate CPU line."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals)


class PeakRss:
    """Background sampler of :func:`tree_rss_mb`; ``peak_mb`` after stop."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
