"""Host-side measurements read from /proc: CPU and peak memory of this
process and every process it started (the Spark JVM and its Python
workers), and the host's steal fraction."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int] | None:
    """(ppid, cpu ticks incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after it
    rest = s[s.rindex(")") + 2 :].split()
    cpu = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return int(rest[1]), cpu


def _tree() -> dict[int, tuple[int, int]]:
    """pid -> stat of this process and all its descendants."""
    stats, children = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(d)
            if st is not None:
                stats[int(d)] = st
                children.setdefault(st[0], []).append(int(d))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1e3
    except OSError:  # the process exited
        pass
    return 0.0


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree. A child that exits is
    still counted, through its parent's reaped-children time."""
    return sum(cpu for _, cpu in _tree().values()) / _TICK


class PeakMemory:
    """Samples the process tree's summed proportional set size (PSS)
    until stopped. Python workers are forked from one daemon and share
    its pages; PSS counts a shared page once across its sharers where
    summed RSS would count it in every worker. ``cpu_s`` is the
    sampler thread's own CPU time so far, which the tree's CPU includes."""

    INTERVAL_S = 0.5

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            mb = sum(_pss_mb(pid) for pid in _tree())
            self.peak_mb = max(self.peak_mb, mb)
            self.cpu_s = time.thread_time()
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> PeakMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> list[int]:
    """/proc/stat aggregate line: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(t0: list[int], t1: list[int]) -> float:
    """Share of non-idle host CPU time stolen by the hypervisor."""
    d = [b - a for a, b in zip(t0, t1)]
    busy = sum(d) - d[3]
    return d[7] / busy if busy > 0 else 0.0
