"""Host probes read from /proc: process-tree CPU, per-process RSS
peaks, steal and iowait, and the run's environment record.

Everything here is read-only and cheap enough to call around every
timed operation. On a host without /proc the probes return zeros,
which the caller reports as measured.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    table: dict[int, tuple[int, str, float]] = {}
    try:
        names = os.listdir("/proc")
    except OSError:
        return table
    for d in names:
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # comm may hold spaces and parens; fields resume after the last ')'
        lp, rp = raw.find("("), raw.rfind(")")
        comm = raw[lp + 1 : rp]
        f = raw[rp + 2 :].split()
        # f[1]=ppid, f[11..14] = utime stime cutime cstime
        cpu = sum(int(x) for x in f[11:15]) / _TICK
        table[int(d)] = (int(f[1]), comm, cpu)
    return table


def _descendants(table: dict[int, tuple[int, str, float]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu() -> dict[str, float]:
    """CPU seconds of this process and every descendant, split into
    ``total``, ``jvm`` (java processes) and ``python_workers`` (python
    descendants other than this process: the worker daemon and the
    workers it forks, whose reaped CPU lands in the daemon's cutime)."""
    table = _proc_table()
    me = os.getpid()
    total = jvm = workers = 0.0
    for pid in _descendants(table, me):
        if pid not in table:
            continue
        _, comm, cpu = table[pid]
        total += cpu
        if comm == "java":
            jvm += cpu
        elif pid != me and comm.startswith("python"):
            workers += cpu
    return {"total": total, "jvm": jvm, "python_workers": workers}


def worker_rss_peak_mb() -> float:
    """Largest VmHWM (peak RSS) among live python descendants."""
    table = _proc_table()
    me = os.getpid()
    peak = 0
    for pid in _descendants(table, me):
        if pid == me or pid not in table or not table[pid][1].startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak / 1024.0


def cpu_ticks() -> tuple[int, int, int]:
    """(total, iowait, steal) ticks from /proc/stat's aggregate line."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()[1:]
    except OSError:
        return (0, 0, 0)
    vals = [int(x) for x in f]
    iowait = vals[4] if len(vals) > 4 else 0
    steal = vals[7] if len(vals) > 7 else 0
    return (sum(vals[:8]), iowait, steal)


def interference(before: tuple[int, int, int], after: tuple[int, int, int], wall_s: float) -> dict[str, float]:
    """Average cores lost to steal and iowait over ``wall_s``."""
    if wall_s <= 0:
        return {"steal_cores": 0.0, "iowait_cores": 0.0}
    return {
        "steal_cores": (after[2] - before[2]) / _TICK / wall_s,
        "iowait_cores": (after[1] - before[1]) / _TICK / wall_s,
    }


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    # skip the "Picked up JAVA_TOOL_OPTIONS" notice the JVM prints first
    lines = [l for l in (out.stderr + out.stdout).splitlines() if "version" in l]
    return lines[0] if lines else "unknown"


def environment() -> dict[str, object]:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "java": _java_version(),
        "platform": platform.platform(),
    }
