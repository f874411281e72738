"""Process-tree memory sampling and host-noise labels for each sample."""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def children_of(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(k) for k in fh.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return kids


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (children of all its threads)."""
    out, todo = [], [pid]
    while todo:
        kids = children_of(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return "?"


def tree_processes(root: int) -> list[int]:
    """The JVMs and Python processes under ``root``.

    A JVM's child that is itself still a JVM is a fork on its way to
    exec a helper: it shares all its pages with the parent, so its RSS
    would count the JVM twice, and it is left out."""
    out: list[int] = []
    todo = [(root, "")]
    while todo:
        pid, parent_comm = todo.pop()
        for kid in children_of(pid):
            name = comm(kid)
            todo.append((kid, name))
            if (name == "java" and parent_comm != "java") or name.startswith("python"):
                out.append(kid)
    return out


def rss_by_pid(pids: list[int]) -> dict[int, int]:
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                out[p] = int(fh.read().split()[1]) * PAGE
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


class RssSampler:
    """Samples the summed RSS of the Spark driver JVM and its Python
    workers (the benchmark's own interpreter, which holds the
    generator's data, is left out) every ``period`` seconds and keeps
    the peak of the current window. The process list is refreshed every
    ``refresh`` seconds; walking the tree on every sample would read a
    file per JVM thread."""

    def __init__(self, period: float = 0.05, refresh: float = 0.5):
        self.period = period
        self.refresh = refresh
        self._peak = 0
        self._peak_procs: dict[int, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        pids: list[int] = []
        next_refresh = 0.0
        while not self._stop.wait(self.period):
            if time.monotonic() >= next_refresh:
                pids = tree_processes(me)
                next_refresh = time.monotonic() + self.refresh
            procs = rss_by_pid(pids)
            rss = sum(procs.values())
            with self._lock:
                if rss > self._peak:
                    self._peak, self._peak_procs = rss, procs

    def reset(self) -> None:
        procs = rss_by_pid(tree_processes(os.getpid()))
        with self._lock:
            self._peak, self._peak_procs = sum(procs.values()), procs

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    def peak_processes(self) -> dict[str, list[int]]:
        """MB per process at the peak, grouped by command name."""
        with self._lock:
            procs = dict(self._peak_procs)
        out: dict[str, list[int]] = {}
        for pid, rss in procs.items():
            out.setdefault(comm(pid), []).append(rss // 2**20)
        return out


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


class HostLabel:
    """1-minute load and the hypervisor steal share over an interval."""

    def __init__(self) -> None:
        self._start = _cpu_jiffies()

    def finish(self) -> dict:
        steal0, total0 = self._start
        steal1, total1 = _cpu_jiffies()
        dt = max(total1 - total0, 1)
        return {"load1": round(os.getloadavg()[0], 2), "steal_frac": round((steal1 - steal0) / dt, 4)}
