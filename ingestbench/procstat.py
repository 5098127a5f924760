"""CPU time and resident memory of this process and its descendants (the
JVM and its Python workers), read from /proc, and a fixed pure-CPU burn
that shows how fast the host ran at the start and end of a run."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return data[data.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def tree_cpu_s() -> float:
    """User+system seconds of the tree, counting reaped children through
    their parents' cumulative fields."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_pss_bytes() -> int:
    """Proportional set size of the tree: resident pages, with each page
    shared between processes (forked Python workers) counted once."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # the process ended between listing and reading
    return total


class PeakRss:
    """Samples the tree's resident memory (PSS) on a thread until
    ``stop``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes())
        return self.peak


def host_control(n: int = 3_000_000) -> float:
    """Seconds of a fixed single-core square-sum loop."""
    t0 = time.perf_counter()
    s = 0
    for i in range(n):
        s += i * i
    return time.perf_counter() - t0
