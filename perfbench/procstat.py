"""Process-tree memory sampling and teardown from ``/proc`` (no psutil)."""

from __future__ import annotations

import os
import signal
import threading
import time


def _stats():
    """(pid, state, ppid, pgrp) of every process in /proc."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        state, ppid, pgrp = stat[stat.rindex(")") + 2:].split()[:3]
        out.append((int(name), state, int(ppid), int(pgrp)))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss(root: int) -> int:
    """Summed RSS of ``root`` and its descendants. A child of the JVM
    still running the java binary is the JVM forking before an exec: it
    maps the parent's heap pages and would count them twice, so it is
    skipped. (PSS would split shared pages instead, but reading it walks
    the page tables of the 2 GB heap: ~40 ms of kernel time per sample.)"""
    kids: dict[int, list[int]] = {}
    parent = {}
    for pid, _, ppid, _ in _stats():
        kids.setdefault(ppid, []).append(pid)
        parent[pid] = ppid
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        exe = _exe(pid)
        if not (exe.endswith("/java") and exe == _exe(parent.get(pid, 0))):
            total += rss_bytes(pid)
    return total


class PeakRss:
    """Background thread tracking the peak of the summed RSS of a
    process tree (driver, JVM, Python workers)."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.is_set():
            total = tree_rss(self.root)
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)


def family(pgid: int) -> list[int]:
    """Live members of a process group plus their live descendants (the
    PySpark daemon puts itself and its workers in a group of their own)."""
    stats = _stats()
    kids: dict[int, list[int]] = {}
    for pid, _, ppid, _ in stats:
        kids.setdefault(ppid, []).append(pid)
    live = {pid for pid, state, _, _ in stats if state != "Z"}
    todo = [pid for pid, _, _, pgrp in stats if pgrp == pgid]
    out = set()
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.add(pid)
            todo.extend(kids.get(pid, ()))
    return sorted(out & live)


def kill_family(pgid: int, timeout: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, everything :func:`family` finds; return
    once none of it is alive."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + timeout
        sent = False
        while time.monotonic() < deadline:
            pids = family(pgid)
            if not pids:
                return
            if not sent:
                for pid in pids:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                sent = True
            time.sleep(0.1)
