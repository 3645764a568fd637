"""Host facts, a CPU-loop probe and a peak-RSS sampler, all read from /proc.

The probe is a diagnostic recorded beside every run: it is never reported
as a metric and never used to normalise one.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
    }


def cpu_probe_ms(n: int = 300_000) -> float:
    """Wall time of a fixed pure-Python integer loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1000


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parens; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out[1:]


def _rss(pid: int) -> tuple[int, bool]:
    """(resident bytes, is a JVM) of one process; (0, False) once gone."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/comm") as f:
            return rss, f.read().strip() == "java"
    except OSError:
        return 0, False


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM and
    its Python workers) on a background thread and keeps the peaks of the
    whole tree and of its JVM and Python parts."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = {"tree": 0, "jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            jvm = py = 0
            for pid in [root] + descendants(root):
                rss, is_jvm = _rss(pid)
                if is_jvm:
                    jvm += rss
                else:
                    py += rss
            for k, v in (("tree", jvm + py), ("jvm", jvm), ("python", py)):
                self.peak[k] = max(self.peak[k], v)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def reap_descendants(timeout_s: float = 20.0) -> int:
    """Wait for every process this one started (directly or not) to end,
    killing what is left after ``timeout_s``; returns how many were killed."""
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass
    return len(left)
