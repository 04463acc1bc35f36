"""The process tree below a process, read from ``/proc``."""

from __future__ import annotations

import os

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6


def descendants(root: int | None = None) -> list[int]:
    """Live processes below ``root`` (default: this process)."""
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(") ", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    out, stack = [], [os.getpid() if root is None else root]
    while stack:
        for kid in kids.get(stack.pop(), []):
            out.append(kid)
            stack.append(kid)
    return out


def tree_rss_mb() -> float:
    """Resident memory of this process and every descendant."""
    pages = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # ended since the tree was read
    return pages * PAGE_MB
