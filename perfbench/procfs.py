"""CPU time and resident memory (PSS) of this process and all its
descendants, read from /proc (psutil is not a dependency).

The tree is the benchmark's own Python process, the JVM it launches and the
Python workers the JVM forks. A worker that exited and was reaped still
counts, through its parent's cutime/cstime.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
# one PSS sample reads smaps_rollup, which walks the page tables: 10-40 ms
# of CPU for a 2 GB JVM. Every 0.1 s that took a third of a core from the
# workload; every 0.5 s it takes a few percent.
_SAMPLE_S = 0.5


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' is positional
    return raw[raw.rindex(")") + 2 :].split()


class ProcTree:
    """Live process tree rooted at this process."""

    def __init__(self):
        self.root = os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """utime + stime of every live member plus reaped children's times."""
        total = 0
        for pid in self.pids():
            f = _stat_fields(pid)
            if f is not None:
                # fields 14-17 of stat: utime stime cutime cstime
                total += sum(int(x) for x in f[11:15])
        return total / _TICK

    def rss_by_pid(self) -> dict[int, float]:
        """Proportional set size (PSS) in MB: a page shared by n processes
        counts 1/n to each. Plain RSS would count the JVM twice whenever it
        forks a helper process, until that process execs."""
        out = {}
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            out[pid] = int(line.split()[1]) / 1024
                            break
            except OSError:
                continue
        return out

    def descendants(self) -> list[int]:
        return [p for p in self.pids() if p != self.root]


class PeakRss:
    """Samples the tree's summed PSS every 0.5 s while armed; ``peak_mb`` is
    the largest sum seen."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.peak_mb = 0.0
        self.peak_by_pid: dict[int, float] = {}
        self._lock = threading.Lock()
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._armed.wait(_SAMPLE_S):
                self._sample()
                time.sleep(_SAMPLE_S)

    def _sample(self) -> None:
        by_pid = self.tree.rss_by_pid()
        mb = sum(by_pid.values())
        with self._lock:
            if mb > self.peak_mb:
                self.peak_mb, self.peak_by_pid = mb, by_pid

    def arm(self) -> None:
        self._armed.set()

    def disarm(self) -> None:
        self._armed.clear()
        # one last sample so a short operation is never missed entirely
        self._sample()

    def close(self) -> None:
        self._stop.set()
        self._armed.set()
        self._thread.join(timeout=5)
