"""Process-tree memory sampler.

Sums the resident set of this process and all its descendants (the driver,
the JVM it launched, and the Python workers the JVM forks) by reading
``/proc`` every ``INTERVAL`` seconds, but only inside a window: one window
per timed iteration, each giving that iteration's peak.
"""

from __future__ import annotations

import os
import threading

INTERVAL = 0.05
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended between listdir and open
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def descendants(root: int) -> list[int]:
    tree = _children()
    out, stack = [], list(tree.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(tree.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Background sampler: ``open()`` starts a window, ``close()`` ends it
    and returns the largest sum seen in it, in bytes."""

    def __init__(self) -> None:
        self._peak = 0
        self._sampling = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(INTERVAL):
            if self._sampling.is_set():
                self._peak = max(self._peak, tree_rss_bytes(os.getpid()))

    def open(self) -> None:
        self._peak = tree_rss_bytes(os.getpid())
        self._sampling.set()

    def close(self) -> int:
        self._sampling.clear()
        return max(self._peak, tree_rss_bytes(os.getpid()))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
