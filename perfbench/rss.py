"""Resident memory and CPU time of a process tree, read from ``/proc``.

The benchmark's worker is a Python driver that starts a JVM, which in
turn forks Python UDF workers. ``PeakRssSampler`` walks the tree below
the worker at a fixed interval and keeps the largest total, counting
pages shared between processes once (summed PSS). ``tree_cpu_s`` sums
the CPU time the same tree has used.
"""

from __future__ import annotations

import os
import threading

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(proc: str, pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (which may hold
    spaces or parentheses), or None when the process is gone."""
    try:
        with open(f"{proc}/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def parent_map(proc: str = "/proc") -> dict[int, int]:
    """pid -> parent pid for every live process."""
    out = {}
    for name in os.listdir(proc):
        if name.isdigit():
            fields = _stat_fields(proc, int(name))
            if fields is not None:
                out[int(name)] = int(fields[1])
    return out


def descendants(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parent_map(proc).items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def pss_bytes(pid: int, proc: str = "/proc") -> int:
    """Proportional set size of one process: its resident pages, each
    shared page divided among the processes sharing it (0 when gone).
    Summed over a tree, this counts each resident page once, where RSS
    would count a forked Python worker's inherited pages again."""
    try:
        with open(f"{proc}/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def start_time(pid: int, proc: str = "/proc") -> int | None:
    """Start time in clock ticks since boot, or None once the process has
    exited; tells a live process from a later one that reused its pid."""
    fields = _stat_fields(proc, pid)
    if fields is None or fields[0] in ("Z", "X"):  # gone, or exited and unreaped
        return None
    return int(fields[19])


def cpu_s(pid: int, proc: str = "/proc") -> float:
    """User + system CPU seconds of one process (all its threads) and of
    its children that have exited and been reaped (0 when gone). Time
    the hypervisor gave to other guests (steal) is not in these counters,
    so on a shared host they move far less than wall time."""
    fields = _stat_fields(proc, pid)
    if fields is None:
        return 0.0
    return sum(int(f) for f in fields[11:15]) / CLOCK_TICKS  # utime stime cutime cstime


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds used so far by ``root``'s whole tree. A child that
    exited counts through its parent's reaped-children totals."""
    return sum(cpu_s(p, proc) for p in descendants(root, proc))


def tree_resident_bytes(root: int, proc: str = "/proc") -> tuple[int, list[int]]:
    """Resident memory of ``root``'s tree, each page counted once."""
    pids = descendants(root, proc)
    return sum(pss_bytes(p, proc) for p in pids), pids


class PeakRssSampler:
    """Samples the resident memory of ``root``'s process tree every
    ``interval`` seconds on a background thread. Also remembers every
    process it saw, so the caller can make sure none outlives the run.
    Reading a 2 GiB JVM's smaps_rollup takes about 30 ms, so the default
    interval keeps the sampler near 3% of one core."""

    def __init__(self, root: int, interval: float = 1.0, proc: str = "/proc"):
        self.root = root
        self.interval = interval
        self.proc = proc
        self.peak_bytes = 0
        self.seen: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        total, pids = tree_resident_bytes(self.root, self.proc)
        self.peak_bytes = max(self.peak_bytes, total)
        for pid in pids:
            if pid not in self.seen:
                st = start_time(pid, self.proc)
                if st is not None:
                    self.seen[pid] = st

    def start(self) -> "PeakRssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        return self.peak_bytes / 2**20

    def still_alive(self) -> list[int]:
        """Seen processes that are still running (same start time)."""
        return [p for p, st in self.seen.items() if start_time(p, self.proc) == st]
