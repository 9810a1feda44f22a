"""Host facts recorded with every run, and the process-tree memory sampler.

The host facts (load average, CPU steal share, a fixed CPU probe) are
only recorded.  Nothing uses them to drop or repeat a run.
"""

from __future__ import annotations

import os
import threading
import time


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_probe_s() -> float:
    """Wall time of a fixed pure-Python loop: a host-speed reading."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


class HostRecord:
    """Load average and a CPU probe at the start, steal share over the run."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()
        self.probe_s = cpu_probe_s()
        self._cpu0 = _cpu_times()

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(delta[:8]) or 1  # user..steal; guest time is inside user
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "nproc": os.cpu_count(),
            "loadavg_start": list(self.load_start),
            "loadavg_end": list(os.getloadavg()),
            "steal_share": steal / total,
            "cpu_probe_s": self.probe_s,
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


class PssSampler:
    """Samples the proportional set size of this process and all its
    descendants (the JVM and the Python workers) on a thread, and keeps
    the peak.  PSS splits shared pages between the processes sharing
    them, so the sum over the tree counts each page once.  Reading a
    2 GB JVM's smaps_rollup takes tens of milliseconds of kernel time,
    so samples are a second apart; the JVM's footprint seldom shrinks
    within a run, so a coarse sample still finds its peak."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        kb = sum(pss_kb(p) for p in tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)
        return kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
