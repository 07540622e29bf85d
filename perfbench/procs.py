"""The benchmark's process tree: peak RSS sampled from /proc, and a wait
until every process it started has ended.

The tree is the driver Python process, the JVM it launches, and the
Python worker daemon and workers the JVM forks.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppids() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we listed
        # the command name may hold spaces; fields resume after its ')'
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for child in children.get(todo.pop(), []):
            if child not in out:
                out.add(child)
                todo.append(child)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class TreeSampler:
    """Samples the summed RSS of this process and its descendants on a
    background thread."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_bytes = 0
        self.samples = 0

    def sample(self) -> None:
        pids = descendants(os.getpid())
        total = sum(_rss_bytes(p) for p in pids | {os.getpid()})
        self.peak_bytes = max(self.peak_bytes, total)
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self) -> TreeSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_gone(pids: set[int], timeout_s: float = 60.0) -> list[int]:
    """Wait until none of ``pids`` is alive; kill what outlives the
    timeout and return those pids."""
    deadline = time.monotonic() + timeout_s
    alive = set(pids)
    while alive:
        alive = {p for p in alive if _alive(p)}
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return sorted(alive)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # our own exited child: reap it
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
