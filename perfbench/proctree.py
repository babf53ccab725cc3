"""CPU and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own Python process (the Spark driver), the
JVM it launches, and the JVM's Python daemon and workers. Reading it
costs a few file reads per process, so the untraced run reads it only
at the edges of the measured window; nothing samples in the background.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; the fields after it start at ')'.
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int], with_children: bool = True) -> float:
    """User+system CPU of ``pids``. With ``with_children`` the CPU of
    children they have already reaped is included, so a worker that
    exits inside a window still counts."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is None:
            continue
        # utime, stime, cutime, cstime are stat fields 14-17.
        ticks += int(fields[11]) + int(fields[12])
        if with_children:
            ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


def peak_rss_mb(pids: list[int]) -> dict[int, float]:
    """Each process's peak resident set (VmHWM) in MB."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) * 1024 / 1e6  # kB means KiB
                        break
        except OSError:
            continue
    return out


class Tree:
    """The benchmark's process tree, with the pid list cached between
    explicit refreshes so a CPU reading costs one file read per process."""

    def __init__(self):
        self.root = os.getpid()
        self.pids = descendants(self.root)

    def refresh(self) -> None:
        self.pids = descendants(self.root)

    def cpu(self) -> float:
        return cpu_seconds(self.pids)

    def driver_cpu(self) -> float:
        return cpu_seconds([self.root], with_children=False)

    def peak_rss_mb(self) -> dict[int, float]:
        return peak_rss_mb(descendants(self.root))
