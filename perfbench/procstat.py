"""Host readings from ``/proc``: peak memory and the noise context of a run.

A run records ``/proc/loadavg`` at its start and end and the ``/proc/stat``
steal and iowait shares over its span, so a noisy window can be told from
a code change using the artifact alone.
"""

from __future__ import annotations

import os


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _ticks(fields: list[str], children: bool = True) -> int:
    """utime + stime of a ``stat`` line, plus cutime + cstime (reaped
    children, a per-process figure every thread's line repeats) if asked."""
    return sum(int(x) for x in fields[11 : 15 if children else 13])


def cpu_snapshot() -> dict[tuple, int]:
    """CPU clock ticks of this process and every live descendant (the
    driver, the JVM and its Python workers), less the JVM's JIT compiler
    threads.

    Each process counts whole (exited threads and reaped children
    included); each live compiler thread adds a negative entry. The
    compiler threads' time is warm-up work whose amount depends on how far
    compilation got in wall time, so it is left out; ``harness.configure``
    keeps those threads alive for the whole run so that none exits with its
    time still inside the process total. Time the hypervisor steals is in
    none of these counters (the kernel's paravirtual steal accounting), but
    a busy neighbour still slows them through shared cores and caches.
    """
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(f"/proc/{entry}/stat")
            if fields is not None:
                parent[int(entry)] = int(fields[1])
    snap, frontier = {}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        frontier += [c for c, p in parent.items() if p == pid]
        fields = _stat_fields(f"/proc/{pid}/stat")
        if fields is None:
            continue
        snap[(pid,)] = _ticks(fields)
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if "CompilerThre" not in fh.read():
                        continue
            except OSError:
                continue
            fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if fields is not None:
                snap[(pid, int(tid))] = -_ticks(fields, children=False)
    return snap


def cpu_since(start: dict[tuple, int]) -> float:
    """CPU seconds used since the ``start`` snapshot (see
    :func:`cpu_snapshot`) by the processes alive now."""
    end = cpu_snapshot()
    ticks = sum(v - start.get(k, 0) for k, v in end.items())
    return ticks / os.sysconf("SC_CLK_TCK")


def jvm_pid() -> int | None:
    """The JVM launched by this process (a child or grandchild)."""
    me = os.getpid()
    frontier = _children(me)
    for _ in range(3):
        nxt = []
        for pid in frontier:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        return pid
            except OSError:
                continue
            nxt += _children(pid)
        frontier = nxt
    return None


def peak_rss_mb(jvm: int | None) -> tuple[float, float]:
    """Peak resident sets (``VmHWM``) of this process and of the JVM, in MB."""
    return (
        _status_kb(os.getpid(), "VmHWM") / 1024.0,
        _status_kb(jvm, "VmHWM") / 1024.0 if jvm else 0.0,
    )


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_since(start: list[int]) -> float:
    """Seconds the hypervisor took from this VM's CPUs since ``start`` (a
    :func:`cpu_jiffies` reading)."""
    return (cpu_jiffies()[7] - start[7]) / os.sysconf("SC_CLK_TCK")


def noise(start: list[int], end: list[int]) -> dict:
    """Steal and iowait shares of all CPU time between two readings."""
    d = [b - a for a, b in zip(start, end)]
    total = max(1, sum(d[:8]))
    return {
        "iowait_share": round(d[4] / total, 5),
        "steal_share": round(d[7] / total, 5) if len(d) > 7 else 0.0,
        "busy_share": round(1 - (d[3] + d[4]) / total, 5),
    }
