"""CPU time and resident memory of this process's descendants, from /proc.

The JVM is a child of the benchmark process and the PySpark worker daemon
is a child of the JVM, so "every descendant" is the JVM plus every Python
worker.  CPU counts ``utime + stime + cutime + cstime``: a worker that
exits is reaped by the daemon, so its time moves into the daemon's
``cutime`` rather than vanishing, and a diff of the sum stays exact.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
CORES = len(os.sched_getaffinity(0))


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, cpu ticks incl. reaped children), or None if the pid is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rindex(")") + 2:].split()  # comm may contain spaces
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def descendants(root: int | None = None) -> dict[int, int]:
    """{pid: cpu ticks} for every live descendant of ``root``."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid][1]
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds() -> float:
    """CPU seconds used so far by the JVM and all Python workers."""
    return sum(descendants().values()) / _TICK


def _is_python_worker(pid: int) -> bool:
    # the daemon and the workers it forks run ``python -m pyspark.daemon``;
    # the JVM's own command line names pyspark too, so match the module
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerPeakRss:
    """Peak RSS summed over the Python workers during a ``with`` block.

    On entry each live worker's high-water mark is reset (``clear_refs``);
    a sampler thread then records every worker's ``VmHWM`` until exit, so
    a worker that starts or ends inside the block is still counted."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _workers(self) -> list[int]:
        return [p for p in descendants() if _is_python_worker(p)]

    def _sample(self) -> None:
        for pid in self._workers():
            kb = _vm_hwm_kb(pid)
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "WorkerPeakRss":
        for pid in self._workers():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # the worker exited in between
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0
