"""CPU and memory of this process and every process it started, from /proc.

A Spark run is a process tree: this Python process, the JVM it launches,
the JVM's Python worker daemon and the workers that daemon forks. Their
CPU and memory together are what the run costs.

CPU is summed as utime+stime+cutime+cstime over the live tree. A process
adds an exited child's CPU to its own cutime/cstime once it reaps it, and
the reaper is in the tree, so CPU of exited workers stays counted; a
zombie that is not yet reaped still shows its own utime/stime.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

# RSS sampling interval of RssSampler, in seconds
RSS_INTERVAL_S = 0.05


def _stat_fields(pid: str) -> list[bytes] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            # comm may contain spaces or parentheses: split after the last ')'
            return fh.read().rsplit(b")", 1)[-1].split()
    except OSError:
        return None  # the process exited between listdir and open


def _tree(root: int) -> dict[int, list[bytes]]:
    """stat fields of `root` and all its live descendants, by pid."""
    stats: dict[int, list[bytes]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(name)
        if f is None:
            continue
        pid = int(name)
        stats[pid] = f
        children.setdefault(int(f[1]), []).append(pid)
    out: dict[int, list[bytes]] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            stack.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """utime+stime+cutime+cstime of the live tree under `root` (default: us)."""
    tree = _tree(os.getpid() if root is None else root)
    # after the ')' split: [0]=state [1]=ppid [11]=utime [12]=stime
    # [13]=cutime [14]=cstime, in clock ticks
    ticks = sum(sum(int(x) for x in f[11:15]) for f in tree.values())
    return ticks / _TICK


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident set size summed over the live tree under `root`."""
    tree = _tree(os.getpid() if root is None else root)
    return sum(int(f[21]) for f in tree.values()) * _PAGE  # [21]=rss pages


def host_cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over all CPUs since boot, from
    /proc/stat. Busy is user+nice+system+irq+softirq. Steal is time a
    virtual CPU was ready to run while the host ran something else."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def ticks_to_seconds(ticks: int) -> float:
    return ticks / _TICK


def descendants() -> list[int]:
    """Pids of every live process started under this one."""
    me = os.getpid()
    return [pid for pid in _tree(me) if pid != me]


def seconds_since_process_start() -> float:
    """Wall time since this process was created (10 ms resolution)."""
    f = _stat_fields("self")
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(f[19]) / _TICK  # [19]=starttime, ticks after boot


class RssSampler:
    """Samples tree RSS every RSS_INTERVAL_S on a thread; `peak` is the
    highest sum seen between start() and stop()."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> RssSampler:
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak
