"""Process-level readings from /proc: Python worker peak RSS and steal ticks.

Only processes descended from this benchmark process are read, so other
Spark applications on the same host do not leak into the figures.
"""

from __future__ import annotations

import os
import threading


def steal_ticks() -> int:
    """Cumulative hypervisor steal ticks of all CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


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
        # the command name field may hold spaces; ppid follows the ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _is_python_worker(pid: int) -> bool:
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


class WorkerRssPoller:
    """Polls the peak RSS (VmHWM) of every ``pyspark.daemon`` process below
    this one until ``stop``; ``peak_mb`` is the largest seen.  Workers are
    forked per slot and may exit between polls, so the poll runs for the
    whole measured region rather than once at its end."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        for pid in descendants(os.getpid()):
            if _is_python_worker(pid):
                kb = _vm_hwm_kb(pid)
                self.peak_kb[pid] = max(kb, self.peak_kb.get(pid, 0))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._poll()

    def start(self) -> "WorkerRssPoller":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._poll()
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return max(self.peak_kb.values(), default=0) / 1024.0
