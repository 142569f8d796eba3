"""CPU time and PSS of this process and all its descendants, from /proc.

CPU: every live process in the tree contributes utime + stime plus
cutime + cstime, the time of children it has already reaped.  A Python
worker that exits mid-op therefore moves its time into its parent's
cutime instead of vanishing from the sum.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    # the command name may hold spaces; fields resume after the last ')'
    rest = data[data.rindex(")") + 2:].split()
    ppid = int(rest[1])
    cpu = sum(int(v) for v in rest[11:15])  # utime stime cutime cstime
    return ppid, cpu


def _tree() -> dict[int, int]:
    """pid -> cpu ticks for the process tree rooted at this process."""
    parents: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid, cpu = _stat(int(name))
        except (OSError, ValueError, IndexError):
            continue
        parents[int(name)] = ppid
        ticks[int(name)] = cpu
    root = os.getpid()
    out = {root: ticks.get(root, 0)}
    frontier = [root]
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        pid = frontier.pop()
        for c in children.get(pid, ()):
            if c not in out:
                out[c] = ticks[c]
                frontier.append(c)
    return out


def cpu_seconds() -> float:
    """Cumulative CPU seconds of the whole process tree."""
    return sum(_tree().values()) / _TICK


def host_cpu_s() -> dict[str, float]:
    """Machine-wide CPU seconds by state, from the first line of
    /proc/stat: ``busy`` is everything that is not idle, ``steal`` the time
    the hypervisor ran something else while a CPU of ours wanted to run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    idle = v[3] + v[4]
    return {"busy": (sum(v) - idle - v[7]) / _TICK, "steal": v[7] / _TICK}


def descendants() -> list[int]:
    return [p for p in _tree() if p != os.getpid()]


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb() -> float:
    return sum(_pss_kb(p) for p in _tree()) / 1024.0


class PeakPss:
    """Samples the tree's PSS on a background thread.  ``mark()`` returns the
    peak since the previous mark, so each op gets a peak of its own."""

    # one sample costs ~45 ms, mostly the kernel walking the JVM's page
    # tables for smaps_rollup; a shorter interval takes a core share the
    # timed ops would otherwise use
    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.thread_cpu_s = 0.0  # the sampler's own CPU, to leave out of totals
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        mb = tree_pss_mb()
        with self._lock:
            self._peak = max(self._peak, mb)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self.thread_cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def mark(self) -> float:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
