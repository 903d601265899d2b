"""Process-tree helpers over /proc (Linux): find every process a driver
started, sum their memory, pin them to CPUs."""

from __future__ import annotations

import os


def _stat(pid: str):
    """(ppid, start time) of a process, or None if it is gone."""
    try:
        with open("/proc/%s/stat" % pid) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[1]), int(fields[19])
    except (OSError, IndexError, ValueError):
        return None


class ProcessTree:
    """Every process descended from ``root``, remembered by (pid, start
    time) so that processes re-parented after their parent exits are
    still found, and a recycled pid is never mistaken for one of them."""

    def __init__(self, root: int):
        self.root = root
        self.known = {}

    def refresh(self) -> list:
        stats = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = _stat(pid)
                if st is not None:
                    stats[int(pid)] = st
        children = {}
        for pid, (ppid, _start) in stats.items():
            children.setdefault(ppid, []).append(pid)
        todo, found = [self.root], []
        while todo:
            pid = todo.pop()
            if pid in stats:
                found.append(pid)
                self.known[pid] = stats[pid][1]
            todo.extend(children.get(pid, []))
        return found

    def alive(self) -> list:
        out = []
        for pid, start in self.known.items():
            st = _stat(str(pid))
            if st is not None and st[1] == start:
                out.append(pid)
        return out


def rss_mb(tree: ProcessTree, min_age_s: float = 1.0) -> float:
    """Summed RSS of the tree's live processes that have been alive for at
    least ``min_age_s``. Short-lived helpers are left out: a child forked
    but not yet exec'ed still shares its parent's pages, and a sample
    taken in that moment would count the JVM's memory twice."""
    pids = tree.refresh()
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    total = 0
    for pid in pids:
        if now - tree.known[pid] / tick < min_age_s:
            continue
        try:
            with open("/proc/%d/statm" % pid) as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / 1e6


def pin(tree: ProcessTree, cpus) -> None:
    """Restrict every thread of every process in the tree to ``cpus``
    (threads and processes started later inherit the mask)."""
    for _ in range(2):  # a second pass catches threads started meanwhile
        for pid in tree.refresh():
            try:
                for tid in os.listdir("/proc/%d/task" % pid):
                    os.sched_setaffinity(int(tid), cpus)
            except OSError:
                continue


def cpu_s(pids: list) -> float:
    """User + system CPU seconds of the given processes, including their
    children that have exited and been waited for."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open("/proc/%d/stat" % pid) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick
