"""Host and process-tree readings from /proc.

CPU time and memory high-water marks are read over the benchmark's own
process tree: the driver, the JVM it launched and the Python workers the
JVM forked. The compute probe is the loop of ``tools/compute_probe.py``
run in-process with a fixed iteration count, so its rate moves with host
load and nothing else.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def compute_probe(reps: int = 25_000) -> float:
    """Iterations/s of a 64x64 matmul loop (32 KB, L1-resident); about
    half a second on a 4-core x86 host."""
    import numpy as np

    a = np.random.default_rng(0).random((64, 64))
    # scaled so the iteration contracts: values stay finite at any reps
    b = np.random.default_rng(1).random((64, 64)) / 64
    c = a @ b
    t0 = time.perf_counter()
    for _ in range(reps):
        c = a @ b
        a = c * 1e-3 + a * 0.999
    return reps / (time.perf_counter() - t0)


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields after it are plain
    return raw[raw.rindex(")") + 2:].split()


def process_age_s() -> float:
    """Seconds since this process started (from its /proc start time)."""
    start = int(_stat(os.getpid())[19]) / _TICK
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) - start


def tree() -> dict[int, int]:
    """pid → ppid for this process and all its descendants."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    root = os.getpid()
    out = {root: parent.get(root, 0)}
    grew = True
    while grew:
        grew = False
        for pid, pp in parent.items():
            if pp in out and pid not in out:
                out[pid] = pp
                grew = True
    return out


def cpu_s(pids) -> float:
    """user+sys CPU seconds of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class TreeSampler:
    """CPU and high-water-mark readings over the benchmark process tree."""

    def __init__(self):
        self.peak_worker_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.peak_tree_mb = 0.0

    def cpu_s(self) -> float:
        return cpu_s(tree())

    def sample(self) -> None:
        """Fold the current high-water marks into the run's peaks. A Python
        worker is a process forked by the PySpark daemon."""
        t = tree()
        cmd = {pid: _cmdline(pid) for pid in t}
        hwm = {pid: hwm_mb(pid) for pid in t}
        workers = [
            pid for pid, pp in t.items()
            if "pyspark.daemon" in cmd[pid] and "pyspark.daemon" in cmd.get(pp, "")
        ]
        jvm = [pid for pid in t if "java" in cmd[pid].split(" ")[0]]
        self.peak_worker_mb = max([self.peak_worker_mb] + [hwm[p] for p in workers])
        self.peak_jvm_mb = max([self.peak_jvm_mb] + [hwm[p] for p in jvm])
        self.peak_tree_mb = max(self.peak_tree_mb, sum(hwm.values()))
