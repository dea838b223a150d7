"""Process-tree and host counters read from /proc."""

from __future__ import annotations

import os
from pathlib import Path

TICK = os.sysconf("SC_CLK_TCK")


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_pss_kb(root: int) -> int:
    """Proportional set size of the tree: pages shared by forked
    workers count once, not once per worker."""
    total = 0
    for pid in tree(root):
        try:
            for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
                if line.startswith("Pss:"):
                    total += int(line.split()[1])
                    break
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, with reaped children) of the tree.
    Time the host steals from this VM is not in it."""
    total = 0
    for pid in tree(root):
        try:
            f = (Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split())
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return total / TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return f[7], sum(f)
