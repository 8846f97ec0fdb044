"""Readers for Linux ``/proc`` counters: process-tree CPU, peak RSS and
host load.

Every reader takes the ``/proc`` root as an argument so tests can point
it at a fake tree.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str) -> tuple[str, list[str]]:
    """``comm`` and the fields after it in ``/proc/<pid>/stat``.

    ``comm`` may hold spaces and parentheses, so the fields are split
    after its last ``)``.  The first field returned is field 3 (state).
    """
    with open(os.path.join(proc, str(pid), "stat")) as fh:
        raw = fh.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def read_stat(pid: int, proc: str = "/proc") -> tuple[str, int, float, float]:
    """(comm, ppid, own CPU s, reaped-children CPU s) of one process."""
    comm, f = _stat_fields(pid, proc)
    # ppid is field 4, utime..cstime fields 14-17.
    utime, stime, cutime, cstime = (int(x) for x in f[11:15])
    return comm, int(f[1]), (utime + stime) / CLK_TCK, (cutime + cstime) / CLK_TCK


def _all_stats(proc: str):
    """(pid, comm, fields) of every process still there when read."""
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            comm, f = _stat_fields(int(entry), proc)
        except OSError:
            continue  # the process exited while /proc was scanned
        yield int(entry), comm, f


def _children(proc: str) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid, _, f in _all_stats(proc):
        kids.setdefault(int(f[1]), []).append(pid)
    return kids


def session_pids(sid: int, proc: str = "/proc") -> list[int]:
    """Live (not zombie) processes of session ``sid`` (field 6)."""
    return sorted(pid for pid, _, f in _all_stats(proc) if int(f[3]) == sid and f[0] != "Z")


def tree_cpu(root: int, proc: str = "/proc") -> dict[int, tuple[str, float]]:
    """CPU seconds of every live process in ``root``'s tree, by pid.

    Each process counts its own time plus the time of the children it
    has reaped, so short-lived workers that already exited still count
    (in the parent that waited for them) and nothing counts twice.
    """
    kids = _children(proc)
    out: dict[int, tuple[str, float]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        try:
            comm, _, own, reaped = read_stat(pid, proc)
        except (OSError, ValueError, IndexError):
            continue
        out[pid] = (comm, own + reaped)
        todo.extend(kids.get(pid, ()))
    return out


def vm_hwm_mb(pid: int, proc: str = "/proc") -> float:
    """Peak resident set size (``VmHWM``) of one process, in MiB."""
    with open(os.path.join(proc, str(pid), "status")) as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_times(proc: str = "/proc") -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line."""
    with open(os.path.join(proc, "stat")) as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice, so the total stops at steal.
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def loadavg_1m(proc: str = "/proc") -> float:
    with open(os.path.join(proc, "loadavg")) as fh:
        return float(fh.read().split()[0])


def calibration_s(n: int = 3_000_000) -> float:
    """Wall time of a fixed single-threaded integer loop.

    Recorded beside the results so a reader can tell a slow machine from
    slow code; it never scales or gates a metric.
    """
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0
