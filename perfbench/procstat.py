"""CPU time and peak memory of a process tree, read from ``/proc``."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields start after its ')'
        return f.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """User + system CPU seconds of ``pid`` and every live descendant,
    plus what they collected from children that already exited."""
    total = 0
    for p in descendants(pid or os.getpid()):
        try:
            f = _stat_fields(p)
        except FileNotFoundError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except FileNotFoundError:
        return ""


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def driver_peak_rss_mb() -> float:
    """Peak RSS of this Python driver plus its JVM child(ren)."""
    me = os.getpid()
    jvms = [p for p in descendants(me) if p != me and _comm(p) == "java"]
    return peak_rss_mb(me) + sum(peak_rss_mb(p) for p in jvms)
