"""Process-tree figures read from /proc: the Python driver, the JVM it
launched and the JVM's Python workers."""

from __future__ import annotations

import os


def _table() -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the command name."""
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    out[int(entry)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    return out


def descendants(pid: int, table: dict[int, list[str]] | None = None) -> list[int]:
    table = table if table is not None else _table()
    children: dict[int, list[int]] = {}
    for p, fields in table.items():
        children.setdefault(int(fields[1]), []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of a process
    and every descendant."""
    table = _table()
    ticks = sum(
        int(x)
        for p in [pid, *descendants(pid, table)]
        if p in table
        for x in table[p][11:15]  # utime stime cutime cstime
    )
    return ticks / os.sysconf("SC_CLK_TCK")


def status_mb(pid: int, key: str) -> float:
    """One /proc/<pid>/status memory line in MB: VmHWM is the peak
    resident set size, VmRSS the current one."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(f"{key}:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no {key} for pid {pid}")


def steal_s() -> float:
    """CPU time the hypervisor took from this machine's vCPUs since boot,
    summed over them: a burst of it slows a run that nothing in the run
    explains."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
