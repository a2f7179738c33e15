"""Host record and process-tree accounting (Linux ``/proc``).

A shared host can slow a run for reasons outside the program. Each run
records a fixed single-thread CPU probe before and after, the share of
CPU time the hypervisor stole, and the 1-minute load, so a noisy run
can be explained from its own record.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_probe_ms() -> float:
    """Wall time of a fixed pure-Python loop (median of three)."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1e3)
    return sorted(times)[1]


def _cpu_counters() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def load1() -> float:
    return os.getloadavg()[0]


class HostRecord:
    """Probe, steal and load taken at ``start()`` and ``stop()``."""

    def start(self) -> None:
        self.probe_before_ms = cpu_probe_ms()
        self.load1_before = load1()
        self._stat0 = _cpu_counters()

    def stop(self) -> dict:
        stat1 = _cpu_counters()
        delta = [b - a for a, b in zip(self._stat0, stat1)]
        total = sum(delta[:8]) or 1
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "host.cpu_probe_ms_before": round(self.probe_before_ms, 3),
            "host.cpu_probe_ms_after": round(cpu_probe_ms(), 3),
            "host.steal_share": steal / total,
            "host.load1_before": self.load1_before,
            "host.load1_after": load1(),
            "host.cpus": os.cpu_count(),
        }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, including children
    that exited and were reaped (Python workers forked by the daemon)."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (field 3); utime..cstime are fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mib() -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
