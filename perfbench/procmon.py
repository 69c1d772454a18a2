"""Resident-memory sampler for the benchmark's process tree.

A daemon thread scans ``/proc`` every ``SAMPLE_INTERVAL_S`` seconds, walks the
descendants of this process and records the peak RSS of the whole tree,
of the JVM (``java``) and of the Python workers Spark forks under it.
It also remembers every descendant it saw, so the benchmark can wait
for all of them to end before it exits.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_MB = 1024 * 1024
SAMPLE_INTERVAL_S = 0.5


def _stat(pid: int) -> tuple[str, int] | None:
    """(comm, ppid) of ``pid``, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    close = raw.rfind(")")
    return raw[raw.find("(") + 1 : close], int(raw[close + 2 :].split()[1])


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _children() -> dict[int, list[tuple[int, str]]]:
    """ppid -> [(pid, comm)] over every live process."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(st[1], []).append((int(entry), st[0]))
    return children


def _descendants(children: dict[int, list[tuple[int, str]]], root: int) -> dict[int, str]:
    """pid -> comm for every descendant of ``root``."""
    out: dict[int, str] = {}
    stack = [root]
    while stack:
        for pid, comm in children.get(stack.pop(), ()):
            out[pid] = comm
            stack.append(pid)
    return out


class RssSampler:
    def __init__(self) -> None:
        self.peak_total = self.peak_jvm = self.peak_python_worker = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(SAMPLE_INTERVAL_S)

    def sample(self, me: int) -> None:
        children = _children()
        procs = _descendants(children, me)
        self.seen.update(procs)
        jvm_pids = [p for p, comm in procs.items() if comm == "java"]
        jvm = sum(_rss(p) for p in jvm_pids)
        # Spark's Python daemon and workers are the python descendants of the JVM
        workers = sum(
            _rss(p)
            for j in jvm_pids
            for p, comm in _descendants(children, j).items()
            if comm.startswith("python")
        )
        total = _rss(me) + sum(_rss(p) for p in procs)
        self.peak_total = max(self.peak_total, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python_worker = max(self.peak_python_worker, workers)

    def peaks_mb(self) -> dict[str, float]:
        return {
            "total": self.peak_total / _MB,
            "jvm": self.peak_jvm / _MB,
            "python_worker": self.peak_python_worker / _MB,
        }

    def wait_for_exit(self, timeout: float = 60.0) -> list[int]:
        """Wait until every descendant ever seen has ended; return the
        pids still alive at the timeout."""
        deadline = time.monotonic() + timeout
        alive = list(self.seen)
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
            if alive:
                time.sleep(0.1)
        return alive
