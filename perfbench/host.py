"""Host and process readings from /proc: CPU shares, process-tree CPU and RSS."""

from __future__ import annotations

import os
import resource
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_times() -> list[int]:
    """Aggregate jiffies of /proc/stat's ``cpu`` line."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Busy and steal shares of all CPU time between two readings."""
    d = [b - a for a, b in zip(before, after)]
    d += [0] * (8 - len(d))
    total = sum(d[:8]) or 1  # guest time is already inside user
    user, nice, system, idle, iowait, irq, softirq, steal = d[:8]
    return {
        "busy_share": (user + nice + system + irq + softirq) / total,
        "steal_share": steal / total,
    }


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the last ')'
    return data[data.rfind(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """PIDs of every live descendant of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _thread_cpu(pid: int, names: tuple[str, ...]) -> int:
    """Jiffies of ``pid``'s live threads whose name is in ``names``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                data = f.read()
        except OSError:
            continue
        if data[data.find("(") + 1:data.rfind(")")] in names:
            fields = data[data.rfind(")") + 2:].split()
            total += int(fields[11]) + int(fields[12])  # utime stime
    return total


def tree_cpu_s(root: int, skip_threads: tuple[str, ...] = ()) -> float:
    """CPU seconds of ``root``'s descendants (not ``root`` itself; see
    ``self_cpu_s``), including reaped children, less that of their live
    threads named in ``skip_threads``."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
            if skip_threads:
                total -= _thread_cpu(pid, skip_threads)
    return total / _TICK


def self_cpu_s() -> float:
    """CPU seconds of this process (every thread), not of its children."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def tree_rss_bytes(root: int) -> int:
    """RSS of ``root`` and all its descendants."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of ``root`` and its descendants and keeps the peak
    held over two consecutive samples.

    A subprocess started by ``posix_spawn``, as the JVM starts them, runs
    in its parent's memory until it execs, and a sample taken in that
    instant counts the JVM's RSS twice (single samples read 2.6 GB and
    5.2 GB high).  Such a child never lives across two samples.

    ``cpu_s`` is the CPU the sampling thread itself spent, which a caller
    measuring ``root``'s own CPU subtracts."""

    def __init__(self, root: int, period_s: float = 0.1):
        self.root, self.period_s = root, period_s
        self.peak = 0
        self.cpu_s = 0.0
        self._last = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(self.root)
        self.peak = max(self.peak, min(rss, self._last))
        self._last = rss

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)
        self.cpu_s = time.thread_time()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
