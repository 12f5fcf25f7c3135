"""Host sizing and host-level counters for the benchmark.

Everything here reads /proc or the Spark JVM; nothing changes the program
under test.  The session is sized from the machine it runs on: one local
executor thread per usable CPU, bench.py's shuffle-partition rule, and a
driver heap derived from /proc/meminfo instead of the 32g library default.
"""

from __future__ import annotations

import os
import time


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(total_mb: int) -> int:
    """A quarter of RAM, clamped to [1 GiB, 4 GiB]: the inputs are small and
    the host's memory is shared, so the heap cap stays modest."""
    return max(1024, min(total_mb // 4, 4096))


def filesystem_of(path: str) -> str:
    """'<mount point> <fs type>' of the mount holding ``path``."""
    real = os.path.realpath(path)
    best = ("/", "?")
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    return f"{best[0]} {best[1]}"


def steal_s() -> float:
    """Host-wide hypervisor steal time so far (USER_HZ = 100 ticks/s)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / 100.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def reset_peak_rss(root: int) -> None:
    """Reset the resident-memory high-water mark (VmHWM) of ``root`` and
    its descendants to their current resident memory."""
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb(root: int) -> float:
    """Summed VmHWM of ``root`` and its descendants since the last
    ``reset_peak_rss``: with the JVM as root, the JVM and its Python
    workers."""
    total_kb = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def jvm_gc_ms(spark) -> int:
    """Total collection time of every JVM garbage collector so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, int(b.getCollectionTime())) for b in mf.getGarbageCollectorMXBeans())


class OpMeter:
    """Per-op host readings: wall, JVM GC time, steal and 1-min load."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self) -> "OpMeter":
        self._gc0 = jvm_gc_ms(self.spark)
        self._steal0 = steal_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_ms = (time.perf_counter() - self._t0) * 1000.0
        self.gc_ms = jvm_gc_ms(self.spark) - self._gc0
        self.steal_s = steal_s() - self._steal0
        self.load_1m = os.getloadavg()[0]
