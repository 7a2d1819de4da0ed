"""Process bookkeeping read from outside the package: resident-set
high-water marks from /proc, the driver JVM's live heap through its
management beans, and an orderly stop of the Spark JVM."""

from __future__ import annotations

import gc
import glob
import os
import time


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for f in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(f) as fh:
                    kids = [int(x) for x in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def vm_hwm_kb(pid: int) -> int:
    """VmHWM (peak resident set) of one process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRSS:
    """Sum of per-process VmHWM over this Python process and its
    descendants: the driver JVM and the Python workers it forks. Call
    ``sample()`` while they are alive; each pid keeps its largest
    reading."""

    def __init__(self):
        self.peak_kb: dict[int, int] = {}
        self.names: dict[int, str] = {}

    def sample(self) -> None:
        me = os.getpid()
        for p in [me, *descendants(me)]:
            self.peak_kb[p] = max(self.peak_kb.get(p, 0), vm_hwm_kb(p))
            if p not in self.names:
                try:
                    with open(f"/proc/{p}/comm") as fh:
                        self.names[p] = fh.read().strip()
                except OSError:
                    pass

    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def by_process(self) -> dict[str, float]:
        """Peak MB per process name, for the detail line."""
        out: dict[str, float] = {}
        for pid, kb in self.peak_kb.items():
            name = self.names.get(pid, "?")
            out[name] = out.get(name, 0.0) + kb / 1024.0
        return out


HEAP_GC_ROUNDS, HEAP_GC_SETTLE_S = 5, 0.5


def heap_live_mb(spark) -> float:
    """Heap the driver JVM still holds after full collections: what the
    session retains (cached tables, broadcasts, the package's own
    caches) once the garbage is gone. Each collection lets Spark's
    context cleaner release the shuffles, broadcasts and checkpoint
    blocks whose handles just died, which a later one reclaims, so
    collect HEAP_GC_ROUNDS times, HEAP_GC_SETTLE_S apart, and keep the
    smallest reading. Read through the JVM's MemoryMXBean over py4j;
    this takes a few seconds, so call it outside timed regions."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for i in range(HEAP_GC_ROUNDS):
        if i:
            time.sleep(HEAP_GC_SETTLE_S)
        # Python first, so that dead DataFrames release their JVM objects
        gc.collect()
        bean.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
    return min(readings)


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the py4j gateway down and wait until the
    JVM and every process under it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    while any(alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.05)


def alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
