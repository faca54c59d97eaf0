"""CPU time and peak memory of a process tree, read from ``/proc``.

The server's tree is its Python process plus the JVM and any Spark Python
workers started under it.
"""

from __future__ import annotations

import os


def tree(pid: int) -> set[int]:
    """``pid`` and its descendants that are alive now."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in out]
        out.update(kids)
        frontier.extend(kids)
    return out


def cpu_s(pids) -> float:
    """User plus system CPU seconds used so far by ``pids``."""
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids) -> float:
    """Summed peak RSS (VmHWM) of ``pids``."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0
