"""Host facts and process-tree accounting read from ``/proc``.

The benchmark process owns the whole engine: the Python driver, the JVM it
launches and the Python workers the JVM forks. CPU and memory are therefore
measured over the tree rooted at this process, not over the driver alone.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of physical memory, between 1 GiB and 8 GiB: the engine's
    own default (8g) would overcommit a small host that other tenants share."""
    return max(1024, min(8192, mem_total_kb() // 4 // 1024))


def _stat(pid: str) -> tuple[int, int, int] | None:
    """(ppid, own+waited-children CPU ticks, RSS pages) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listdir and open
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state) of proc(5): ppid=4, utime..cstime=14..17,
    # rss=24
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks, int(fields[21])


def _tree() -> list[tuple[int, int]]:
    """(cpu ticks, rss pages) of this process and all its descendants."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid][1:])
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree (user + system, including
    reaped children, so short-lived workers are not lost)."""
    return sum(t for t, _ in _tree()) / CLK_TCK


def tree_rss_mb() -> float:
    return sum(r for _, r in _tree()) * PAGE / 2**20


class PeakRss:
    """Samples the tree's summed RSS on a background thread while active:
    ``with PeakRss() as p: ...; p.peak_mb``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def git_commit(root: str) -> str | None:
    """HEAD of the repository at ``root`` read from ``.git`` directly, or
    None for an exported tree (no subprocess, nothing read above ``root``)."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        loose = os.path.join(git, ref)
        if os.path.exists(loose):
            with open(loose) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                sha, _, name = line.strip().partition(" ")
                if name == ref:
                    return sha
    except OSError:
        pass
    return None
