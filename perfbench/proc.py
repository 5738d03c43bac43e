"""Process-tree clocks read from /proc (Linux).

Spark's executor CPU time leaves out the Python workers that run pandas
UDFs, so CPU is read for the whole tree instead: this process, the Spark
JVM it launched, the JVM's Python worker daemon and its forked workers.
A process's own time plus the time of children it has reaped
(``cutime``/``cstime``) counts each finished worker once, in its parent.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def since_process_start_s() -> float:
    """Seconds since this process started (its start time in /proc is on
    the CLOCK_BOOTTIME scale)."""
    started = int(_stat(os.getpid())[19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def _tree() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, comm, stat fields) for every descendant of this process
    and the process itself."""
    procs: dict[int, tuple[int, str, list[str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        st = _stat(pid)
        if st is None:
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        procs[pid] = (int(st[1]), comm, st)
    me = os.getpid()
    keep: dict[int, tuple[int, str, list[str]]] = {}
    for pid, entry in procs.items():
        p = pid
        while p in procs and p != me:
            p = procs[p][0]
        if p == me:
            keep[pid] = entry
    return keep


def _cpu(st: list[str]) -> float:
    # utime stime cutime cstime (fields 14-17 of stat, 11-14 here)
    return sum(int(v) for v in st[11:15]) / _TICK


def tree_cpu_s() -> float:
    """User + system CPU of the whole process tree so far."""
    return sum(_cpu(st) for _, _, st in _tree().values())


def python_worker_cpu_s() -> float:
    """CPU of the Python workers under the Spark JVM (not this process)."""
    me = os.getpid()
    return sum(
        _cpu(st) for pid, (_, comm, st) in _tree().items()
        if pid != me and comm.startswith("python")
    )
