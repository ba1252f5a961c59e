"""Peak resident memory of the Spark driver's process tree, sampled from /proc.

Counted: this process (the Python driver), its direct children (the Spark
JVM) and every deeper descendant that runs a Python interpreter (the
PySpark daemon and its workers). Other descendants, such as the shell
commands the JVM spawns, are left out: until they exec, they share the
JVM's address space and would count its heap twice. One daemon thread
re-walks the tree every second and sums RSS every 0.2 s.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int) -> set[int]:
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(_children(pid))
    return seen


def _runs_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:
        return False


def counted_processes(root: int) -> set[int]:
    """This Python driver, its JVM and the Python daemon and workers under it."""
    direct = set(_children(root))
    return {root} | direct | {p for p in process_tree(root) - direct - {root} if _runs_python(p)}


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


INTERVAL_S = 0.2
REWALK_EVERY = 5  # samples between walks of the process tree


class PeakRss:
    def __init__(self):
        self.peak_bytes = 0
        self.peak_by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        tick = 0
        pids: set[int] = set()
        while True:
            if tick % REWALK_EVERY == 0:
                pids = counted_processes(os.getpid())
            sizes = {p: rss_bytes(p) for p in pids}
            self.peak_bytes = max(self.peak_bytes, sum(sizes.values()))
            for p, b in sizes.items():
                self.peak_by_pid[p] = max(self.peak_by_pid.get(p, 0), b)
            tick += 1
            if self._stop.wait(INTERVAL_S):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False
