"""CPU time and resident memory of a process tree, read from ``/proc``
(psutil is not available)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree. Each process counts its
    own time plus that of its reaped children, so a worker that exits
    moves into its parent's total instead of vanishing."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (stat field 3): utime..cstime are fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of every live process in
    the tree, in MiB."""
    total_kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
