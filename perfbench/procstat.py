"""Process-tree and host counters read from ``/proc``.

The benchmark's process tree is this Python driver, the JVM it launches
and the Python UDF workers the JVM forks.  CPU time is summed over every
live process of the tree, including the children each one has reaped, so
short-lived UDF workers are counted once their parent waits for them.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = root if root is not None else os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK


def tree_rss_mb(root: int | None = None) -> float:
    """Proportional set size of the tree: pages the forked UDF workers
    share copy-on-write are counted once, not once per worker."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(ln.split()[1]) for ln in f
                           if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


class RssSampler:
    """Samples the tree's resident set in a background thread and keeps
    the maximum; ``with RssSampler() as s: ...; s.peak_mb``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def _host_ticks() -> tuple[int, int, int]:
    """(busy, total, steal) jiffies summed over every host CPU."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    total = sum(vals[:8])
    return total - idle - steal, total, steal


class HostWindow:
    """Host noise over a window: the share of CPU time the hypervisor
    stole, and the cores kept busy by processes outside this tree."""

    def __init__(self):
        self._t0 = time.perf_counter()
        self._host0 = _host_ticks()
        self._cpu0 = tree_cpu_s()

    def read(self) -> dict:
        wall = max(1e-9, time.perf_counter() - self._t0)
        busy1, total1, steal1 = _host_ticks()
        busy0, total0, steal0 = self._host0
        d_total = max(1, total1 - total0)
        other_s = (busy1 - busy0) / _CLK - (tree_cpu_s() - self._cpu0)
        return {
            "host.steal_frac": (steal1 - steal0) / d_total,
            "host.other_load": max(0.0, other_s) / wall,
        }
