"""Resident memory of a process tree, sampled from /proc.

The benchmark's tree is its own Python process (the Spark driver), the
JVM it launches and the Python workers the JVM forks. Children are found
through /proc/<pid>/task/<tid>/children; RSS comes from /proc/<pid>/statm.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def tree_rss_bytes(root: int, exclude: frozenset[int] = frozenset()) -> int:
    total = 0
    stack = [root]
    seen = set()
    while stack:
        pid = stack.pop()
        if pid in seen or pid in exclude:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
        stack += _children(pid)
    return total


class RssSampler:
    """Samples the tree's RSS every `interval` seconds on a daemon thread
    until `stop()`; `samples` holds (unix time, bytes) pairs."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.exclude: set[int] = set()
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        rss = tree_rss_bytes(self.root, frozenset(self.exclude))
        self.samples.append((time.time(), rss))

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
