"""CPU time and resident memory of this process and all its descendants
(the driver's Python process, the Spark JVM it launched, and the JVM's
Python-worker daemon and workers), read from ``/proc``."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def _tree() -> dict[int, list[str]]:
    """Stat fields of this process and every descendant, by pid."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including children that
    ended and were reaped by a member of the tree."""
    # fields after the paren: utime, stime, cutime, cstime are 11..14
    return sum(sum(int(x) for x in f[11:15]) for f in _tree().values()) / _TICK


def host_ticks() -> list[int]:
    """The host-wide CPU counters of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def tree_rss_mb() -> float:
    """Summed resident set of the tree, in MiB."""
    return sum(int(f[21]) for f in _tree().values()) * _PAGE / 2**20


class PeakRss:
    """Samples the tree's resident memory on a thread while open and
    keeps the largest sample."""

    # a /proc scan costs ~5 ms of driver CPU; the JVM's resident set
    # moves over seconds
    INTERVAL_S = 0.5

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
