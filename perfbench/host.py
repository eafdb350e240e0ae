"""Host facts and host-sized Spark settings.

Cores and shuffle partitions come from the CPUs this process may run on,
driver memory from ``MemTotal``. Each result records the core count,
``MemTotal``, a single-thread STREAM-triad bandwidth canary and the
hypervisor steal jiffies before and after the run, so a run slowed by a
neighbour on a shared host shows in its own output.
"""

from __future__ import annotations

import os
import time

import numpy as np

# Share of physical memory given to the driver JVM heap; the rest stays
# for the Python workers, the page cache and other tenants.
DRIVER_MEM_SHARE = 4


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def steal_jiffies() -> int:
    """Field 8 of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def triad_gbs(n: int = 4_000_000) -> float:
    """Single-thread STREAM triad a = b*1.5 + c over 3*n doubles (96 MB,
    past the last-level cache), best of three passes, in GB/s."""
    b = np.full(n, 1.000001)
    c = np.full(n, 2.0)
    a = np.empty(n)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.multiply(b, 1.5, out=a)
        a += c
        best = min(best, time.perf_counter() - t0)
    return n * 8 * 3 / best / 1e9


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def seconds_since_process_start() -> float:
    """Wall time since this process was exec'd, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(work: str) -> None:
    """Host-sized settings read by ``session.build_session``, and temporary
    directories kept inside the benchmark's work directory."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_total_kb() // 1024 // DRIVER_MEM_SHARE}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_GRAFT_MASTER", None)
