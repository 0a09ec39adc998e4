"""Process-tree readings from /proc (CPU time, peak RSS, host load), and the
machine-speed sampler that scales the end-to-end figures.

The tree is the benchmark's own process plus every descendant (the JVM that
PySpark launches and the Python workers the JVM forks). CPU time of a
descendant that has exited and been reaped is folded into its parent's
``cutime``/``cstime``, so summing utime+stime+cutime+cstime over the live
tree counts every process once.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces; everything after the last ')' is
    # whitespace-separated, starting at field 3 (state)
    return raw[raw.rfind(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """user+sys seconds of ``pids``, including their reaped children."""
    ticks = 0
    for p in pids:
        f = _stat_fields(p)
        if f is not None:
            # fields 14-17 (1-based) = utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_seconds() -> tuple[float, float]:
    """(non-idle, steal) CPU seconds of the whole machine since boot. Steal is
    time the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    idle = vals[3] + vals[4]  # idle + iowait
    return (sum(vals) - idle) / _TICK, vals[7] / _TICK


# The speed sampler's child: pinned to one CPU, it times a fixed pure-Python
# chunk every INTERVAL seconds until its standard input closes, then prints
# every chunk's CPU seconds and, last, its own total CPU seconds.
_SAMPLER = r"""
import os, select, sys, time
os.sched_setaffinity(0, {int(sys.argv[1])})
chunk, interval, out = int(sys.argv[2]), float(sys.argv[3]), []
def run():
    t0 = time.thread_time()
    acc = 0
    for i in range(chunk):
        acc = (acc * 31 + i) % 1_000_003
    return time.thread_time() - t0
while True:
    out.append(f"{run():.6f}")
    if select.select([sys.stdin], [], [], interval)[0]:
        break
print(" ".join(out), f"{time.process_time():.6f}")
"""


class SpeedSampler:
    """How fast this machine runs right now, measured while the workload runs.

    One child process per CPU the run may use, each pinned to its CPU, times
    a fixed pure-Python chunk (about 4 ms) every ``interval`` seconds, which
    costs each CPU about 1.5% of its time. On a shared VM the same work costs
    more CPU time when the host is busy (the vCPUs' host cores are shared
    with other guests), and the chunk's CPU time moves with it.
    :meth:`stop` returns the mean over CPUs of the median chunk time, in
    seconds, and the samplers' own CPU seconds, which the caller subtracts
    from the process tree's CPU time.
    """

    CHUNK = 35_000

    def __init__(self, interval: float = 0.25) -> None:
        self.procs = [
            subprocess.Popen(
                [sys.executable, "-c", _SAMPLER, str(cpu), str(self.CHUNK), str(interval)],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            )
            for cpu in sorted(os.sched_getaffinity(0))
        ]
        self.medians: list[float] = []

    def stop(self) -> tuple[float, float]:
        for p in self.procs:
            p.stdin.close()
        own_cpu = 0.0
        for p in self.procs:
            vals = p.stdout.read().split()
            p.wait()
            self.medians.append(statistics.median(float(x) for x in vals[:-1]))
            own_cpu += float(vals[-1])
        return statistics.fmean(self.medians), own_cpu


def process_start() -> float:
    """Epoch seconds at which this process started (kernel clock ticks)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start_ticks = int(_stat_fields(os.getpid())[19])  # field 22, starttime
    return time.time() - uptime + start_ticks / _TICK


def load_average() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Window:
    """CPU of the process tree, of everything else (steal included), and
    steal alone, over one interval."""

    def __init__(self) -> None:
        self.t0 = time.time()
        self.tree0 = cpu_seconds(tree_pids())
        self.host0, self.steal0 = host_seconds()

    def close(self) -> dict[str, float]:
        tree = cpu_seconds(tree_pids()) - self.tree0
        host, steal = host_seconds()
        return {
            "cpu_s": tree,
            "steal_s": steal - self.steal0,
            "outside_cpu_s": max(host - self.host0 - tree, 0.0),
        }
