"""The benchmark's own process tree, read from /proc.

A run is this Python process and everything below it: the Spark JVM, the
PySpark daemon and its Python workers. ``tree_cpu_s`` counts the CPU time
they spent, which the host's other load barely moves: a descheduled vCPU
shows as steal, not as CPU time of the process it was running.
"""

from __future__ import annotations

import os

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def process_tree(root: int | None = None) -> dict[int, tuple[int, int]]:
    """pid -> (resident bytes, CPU ticks) of ``root`` (this process by
    default) and every live process below it, from the parent links in
    /proc. CPU ticks are user + system time, with the reaped children's
    included, so a Python worker that exits keeps counting through the
    daemon that waited for it."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
        stats[int(entry)] = (int(fields[21]) * PAGE_BYTES,
                             sum(int(x) for x in fields[11:15]))
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = stats.get(pid, (0, 0))
        todo.extend(children.get(pid, ()))
    return tree


def tree_rss_bytes() -> int:
    return sum(rss for rss, _ in process_tree().values())


def tree_cpu_s() -> float:
    """CPU seconds the run's process tree has spent since it started."""
    return sum(ticks for _, ticks in process_tree().values()) / CLOCK_TICKS
