"""Read-only /proc probes for the benchmark's own process tree.

The tree is this Python process plus every descendant: the JVM that
PySpark launches and the Python workers the JVM forks. CPU time of a
process that exited and was reaped is folded by the kernel into its
parent's ``cutime``/``cstime``, so summing all four fields over the live
tree counts exited children too.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
# A child caught between fork and exec still shows its parent's whole
# memory; processes younger than this are left out of the RSS sum.
RSS_MIN_AGE_S = 1.0
RSS_INTERVAL_S = 0.25


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU-seconds of the tree, exited children included."""
    ticks = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def tree_rss_mb() -> float:
    """Summed RSS of the tree's processes older than RSS_MIN_AGE_S."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    pages = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is None or uptime - int(f[19]) / CLK_TCK < RSS_MIN_AGE_S:
            continue
        try:
            with open(f"/proc/{pid}/statm") as m:
                pages += int(m.read().split()[1])
        except OSError:
            pass
    return pages * PAGE / 2**20


def steal_s() -> float:
    """Host CPU steal summed over all CPUs since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK


def process_start_epoch() -> float:
    """Wall-clock start of this process, from its stat starttime and btime."""
    f = _stat_fields(os.getpid())
    with open("/proc/stat") as s:
        btime = next(int(line.split()[1]) for line in s if line.startswith("btime"))
    return btime + int(f[19]) / CLK_TCK


class RssSampler:
    """Background sampler of the tree's summed RSS, every RSS_INTERVAL_S;
    ``peak_mb`` is the largest sample seen. Use as a context manager."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_INTERVAL_S)

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
