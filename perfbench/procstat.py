"""CPU and memory of this process and everything it started, from /proc.

The tree is the Python driver, the JVM it launched, the PySpark worker
daemon and the short-lived Python workers the daemon forks. CPU of a
process that has exited is still counted: once its parent reaps it, the
kernel adds its time to the parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """Command name and the fields after it (state, then ppid) of a stat file."""
    try:
        with open(path, "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _stat(pid: int) -> list[str] | None:
    got = _read_stat(f"/proc/{pid}/stat")
    return None if got is None else got[1]


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(int(entry))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


# HotSpot's JIT compiler threads (thread names truncated to 15 chars)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        got = _read_stat(f"/proc/{pid}/task/{tid}/stat")
        if got is not None and got[0].startswith(_JIT_THREADS):
            total += int(got[1][11]) + int(got[1][12])
    return total


def tree_cpu_s(root: int) -> float:
    """User+system seconds of the live tree plus its reaped children,
    without the JVM's JIT compiler threads: compiling is warm-up work,
    and how much of it is left after warm-up varies from run to run."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(v) for v in st[11:15]) - _jit_ticks(pid)
    return total / _TICK


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_mb(root: int) -> list[float]:
    """Resident MB of each live process of the tree, root first. A child
    the JVM is spawning maps the JVM's pages until it execs its program:
    while it still runs the JVM's executable it is skipped, not counted
    as a second JVM."""
    out = []
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is None:
            continue
        exe = _exe(pid)
        if exe and os.path.basename(exe) == "java" and exe == _exe(int(st[1])):
            continue
        out.append(int(st[21]) * _PAGE / 1e6)  # rss in pages, field 24
    return out


class PeakRss:
    """Samples the tree's resident memory on a background thread and
    keeps the maximum. ``mark()`` adds a sample from the caller."""

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.parts_mb: list[float] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def mark(self) -> None:
        parts = tree_rss_mb(self.root)
        with self._lock:
            if sum(parts) > self.peak_mb:
                self.peak_mb = sum(parts)
                self.parts_mb = [round(p) for p in parts]

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.mark()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
