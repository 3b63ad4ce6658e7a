"""CPU time and resident memory of a process and all its descendants.

Read from ``/proc``, so the figures cover the driver Python process, the
JVM it launches and the Python workers the JVM forks. A process that
exited and was reaped by a parent in the tree still counts: its time sits
in that parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name: state, ppid, pgrp, session, ..."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # The command name is parenthesised and may hold spaces.
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in descendants(root):
        fields = stat_fields(pid)
        if fields:
            total += sum(int(f) for f in fields[11:15])
    return total / _TICK


def tree_peak_rss_bytes(root: int) -> int:
    """Sum over the live tree of each process's own peak RSS (``VmHWM``).

    An upper bound of the tree's simultaneous peak that, unlike a sampled
    sum, does not depend on when a sample happens to be taken.
    """
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total
