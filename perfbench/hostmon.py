"""Host sampling from ``/proc``: process-tree RSS, CPU steal and load.

Everything here reads Linux ``/proc`` files only, so the harness needs no
extra packages and works inside a container.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_ticks(stat_text: str) -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat.

    Only the first eight fields (user, nice, system, idle, iowait, irq,
    softirq, steal) count toward the total: guest and guest_nice are already
    included in user and nice, so adding them again would inflate the
    denominator and understate steal on hosts that run guests.
    """
    for line in stat_text.splitlines():
        if line.startswith("cpu "):
            vals = [int(v) for v in line.split()[1:]]
            vals = (vals + [0] * 8)[:8]
            return sum(vals), vals[7]
    raise ValueError("no aggregate cpu line in /proc/stat text")


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples, in %."""
    d_total = after[0] - before[0]
    d_steal = after[1] - before[1]
    return 100.0 * d_steal / d_total if d_total > 0 else 0.0


def read_cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        return cpu_ticks(fh.read())


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of a process tree (Python process, JVM, Python workers)."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listing and reading
    return total


class TreeSampler:
    """Background thread tracking the peak RSS of one process tree."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class HostWindow:
    """CPU steal over one run window, and the higher of the 1-minute load
    averages read at its start and end."""

    def __init__(self) -> None:
        self._t0 = read_cpu_ticks()
        self._load0 = load1()

    def close(self) -> dict:
        return {
            "host.steal_pct": steal_pct(self._t0, read_cpu_ticks()),
            "host.load1": max(self._load0, load1()),
        }
