"""Host telemetry and process accounting read from ``/proc``.

CPU seconds cover this Python process and every process below it: the
engine JVM and its Python workers.  Peak resident memory covers the
driver: this process and the engine JVM (Python workers come and go
with the scheduler, so their count at any instant is not a property
of the program).
"""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_age_s() -> float:
    """Seconds since this process started."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _HZ


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and all its live descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """User + system CPU of the process tree, reaped children included."""
    total = 0
    for pid in process_tree():
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _HZ


def rss_mb(pids: list[int], field: str = "VmHWM") -> float:
    """Sum of one /proc status size field over ``pids``: ``VmHWM`` is
    the peak resident size, ``VmRSS`` the current one."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(field + ":"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def host_snapshot() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_1m": os.getloadavg()[0],
    }
