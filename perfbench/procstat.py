"""CPU time and peak memory of this process tree, read from ``/proc``.

The tree is this Python driver, the Spark JVM it launched and the Python
workers the JVM forks.  CPU time counts user and system time of every live
member plus the time of children each member has already reaped, so a
worker that exits between two readings keeps its share.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return s[s.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` and all of its descendants."""
    root = root or os.getpid()
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(int(d))
            if f is not None:
                parent[int(d)] = int(f[1])
    members = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in members and pid not in members:
                members.add(pid)
                grew = True
    return sorted(members)


def cpu_seconds(pids: list[int] | None = None) -> float:
    """utime + stime + cutime + cstime over the tree, in seconds."""
    total = 0
    for pid in pids or tree():
        f = _stat(pid)
        if f is not None:
            # fields 14-17 of stat(5), counted from the state field (3)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum over the tree of each process's high-water resident set
    (``VmHWM``), in MiB."""
    kb = 0
    for pid in pids or tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _alive(pid: int, start: str) -> bool:
    """True while ``pid`` is the process that had start time ``start`` and
    has not yet exited (a zombie has exited)."""
    f = _stat(pid)
    return f is not None and f[0] != "Z" and f[19] == start


def end_processes(pids: list[int], grace_s: float = 10.0) -> list[int]:
    """Send SIGTERM to each of ``pids`` still running, wait up to
    ``grace_s`` for all to end, then SIGKILL the rest and wait again.
    Processes are matched by pid and start time, so a reused pid is never
    signalled.  Returns the pids that could not be ended."""
    import signal
    import time
    started = {}
    for pid in pids:
        f = _stat(pid)
        if pid != os.getpid() and f is not None:
            started[pid] = f[19]
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        live = [p for p, s in started.items() if _alive(p, s)]
        for pid in live:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while live and time.monotonic() < deadline:
            time.sleep(0.05)
            live = [p for p in live if _alive(p, started[p])]
        if not live:
            return []
    return live
