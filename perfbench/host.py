"""Host counters: CPU steal and busy time from /proc/stat, peak RSS of the
benchmark's process tree (driver, JVM, Python workers)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (fields + [0] * 8)[:8]
    busy = user + nice + system + irq + softirq
    return busy, steal, sum(fields[:8])


class HostWindow:
    """Steal share and busy CPU seconds between :meth:`start` and
    :meth:`stop` (host-wide: the VM's counters)."""

    def start(self) -> None:
        self._t0 = cpu_ticks()

    def stop(self) -> dict:
        b1, s1, t1 = cpu_ticks()
        b0, s0, t0 = self._t0
        dt = max(1, t1 - t0)
        return {
            "steal_pct": 100.0 * (s1 - s0) / dt,
            "cpu_s": (b1 - b0) / _TICK,
        }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_peak_mb() -> float:
    """Sum of the peak resident sets of this process and its descendants."""
    pids = [os.getpid(), *descendants()]
    return sum(_hwm_kb(p) for p in pids) / 1024.0
