"""Process-tree readings from /proc: RSS and CPU time of this process and
every process it started (the Spark driver JVM and its Python workers)."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live (not zombie) process below `root`, by parent links."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None and f[0] != "Z":
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21]) * _PAGE  # field 24 (rss), counted after ')' as index 21
    return total


def children_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) of every
    process below `root` — the engine's busy time, JVM and Python workers."""
    total = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


class PeakRss:
    """Samples the process tree's RSS on a thread while active."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> PeakRss:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return


def reap_children(grace_s: float = 10.0) -> None:
    """Wait for every process below this one to end; kill what is left
    after `grace_s`."""
    deadline = time.monotonic() + grace_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + grace_s:
        time.sleep(0.1)
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:  # collect our own killed children
            pass
    except ChildProcessError:
        pass
