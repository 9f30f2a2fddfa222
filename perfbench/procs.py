"""Process-tree helpers over /proc: the descendants of a process, their
resident memory, and CPU pinning of every thread in the tree."""

from __future__ import annotations

import os


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def resident_bytes(pids: list[int]) -> int:
    """Resident memory of the processes, each page shared between them
    (forked Python workers) counted once: the sum of their PSS."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            continue
    return total


def pin(root: int, cpus: set[int]) -> None:
    """Set the CPU affinity of every thread of every process in the tree.
    Threads and processes started later inherit it from their creator."""
    for pid in tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                continue
