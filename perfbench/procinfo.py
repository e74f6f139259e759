"""Process-tree memory and host facts, read from /proc (psutil is not a
dependency of the project)."""

from __future__ import annotations

import os
import re
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """-> (children by parent pid, resident bytes by pid) for every process."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # fields after "(comm)": state ppid ... ; rss (pages) is field 24
        rest = stat[stat.rfind(b")") + 2:].split()
        if rest[0] == b"Z":
            continue
        pid = int(entry)
        children.setdefault(int(rest[1]), []).append(pid)
        rss[pid] = int(rest[21]) * _PAGE
    return children, rss


def descendants(root_pid: int) -> list[int]:
    """Live processes started, directly or not, by ``root_pid``."""
    children, _ = _process_table()
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Sum of resident memory of ``root_pid`` and all its descendants: the
    driver Python process, the JVM it launched and the JVM's Python workers."""
    children, rss = _process_table()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Samples the process tree's resident memory on a background thread and
    keeps the maximum; use as a context manager around the measured phase."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_facts() -> dict:
    """CPU count, BLAS build thread limit and library versions."""
    import numpy as np
    import pyarrow
    import pyspark

    blas = np.show_config(mode="dicts")["Build Dependencies"]["blas"]
    m = re.search(r"MAX_THREADS=(\d+)", blas.get("openblas configuration", ""))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "blas": blas.get("name"),
        "openblas_max_threads": int(m.group(1)) if m else None,
        "pyspark": pyspark.__version__,
        "numpy": np.__version__,
        "pyarrow": pyarrow.__version__,
    }
