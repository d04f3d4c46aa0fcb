"""Spark-free host diagnostics and resource samplers.

Nothing here is folded into a metric except the two peaks taken by
``PeakSampler`` (Python-worker memory and scratch bytes). The host-speed
probe and steal share are recorded next to each timed rep so that a slow
rep can be told apart from a slow host. Both come from
``scripts/host_probe.py``, which must be importable (its directory on
``sys.path``).
"""

from __future__ import annotations

import os
import queue
import threading

from host_probe import _alu_worker

HOST_PROBE_S = 0.5  # length of the host-speed probe
SAMPLE_S = 0.05  # PeakSampler interval


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(after[1] - before[1], 1)


def host_alu_rate() -> float:
    """Iterations per second of the host probe's integer mix (no memory
    traffic) in this process."""
    out: queue.SimpleQueue = queue.SimpleQueue()
    _alu_worker(HOST_PROBE_S, out)
    return out.get() / HOST_PROBE_S


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid`` (the Spark JVM and the
    Python workers it forks, when called with the driver's own pid)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def python_pss_mb(root_pid: int) -> float:
    """Proportional set size of every Python descendant, in MB. PSS splits
    pages shared between processes, such as those of Python workers forked
    from one daemon, instead of counting them once per process as RSS does.
    Called with the JVM's pid, that is the daemon and workers the JVM forks;
    a JVM child that is not Python yet, such as a fork before its exec,
    shares the JVM's pages and is left out."""
    total_kb = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if not f.read().startswith("python"):
                    continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def dir_mb(path: str) -> float:
    """Bytes under ``path`` in MB; files vanishing mid-walk are skipped."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                continue
    return total / 1e6


class PeakSampler:
    """Background thread recording, every ``SAMPLE_S``, the peak memory
    (PSS) of the Python descendants of ``root_pid`` and the peak size of a
    scratch directory while it runs."""

    def __init__(self, scratch_dir: str, root_pid: int):
        self.scratch_dir = scratch_dir
        self.root_pid = root_pid
        self.peak_pss_mb = 0.0
        self.peak_scratch_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample_until_stopped, daemon=True)

    def _sample(self) -> None:
        self.peak_scratch_mb = max(self.peak_scratch_mb, dir_mb(self.scratch_dir))
        self.peak_pss_mb = max(self.peak_pss_mb, python_pss_mb(self.root_pid))

    def _sample_until_stopped(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            self._sample()

    def __enter__(self) -> "PeakSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
