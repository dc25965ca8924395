"""Process-tree helpers over ``/proc`` (Linux), shared by the runner's
memory sampler and the driver's CPU accounting."""

from __future__ import annotations

import os
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Proc:
    __slots__ = ("ppid", "pgrp", "cpu_ticks")

    def __init__(self, ppid: int, pgrp: int, cpu_ticks: int):
        self.ppid, self.pgrp, self.cpu_ticks = ppid, pgrp, cpu_ticks


def table() -> dict[int, Proc]:
    """pid -> Proc for every visible process.  ``cpu_ticks`` is user +
    system time of the process and of its waited-for children."""
    out = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        out[int(d.name)] = Proc(int(f[1]), int(f[2]), sum(int(x) for x in f[11:15]))
    return out


def tree(root: int, procs: dict[int, Proc]) -> set[int]:
    """``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for pid, p in procs.items():
        kids.setdefault(p.ppid, []).append(pid)
    pids, frontier = {root}, [root]
    while frontier:
        for pid in kids.get(frontier.pop(), ()):
            if pid not in pids:
                pids.add(pid)
                frontier.append(pid)
    return pids


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and
    its descendants, e.g. the driver JVM and the Python workers."""
    procs = table()
    pids = tree(os.getpid() if root is None else root, procs)
    return sum(procs[p].cpu_ticks for p in pids if p in procs) / CLK_TCK


def rss_mb(pid: int) -> float:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0
