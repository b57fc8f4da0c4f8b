"""Small measurement helpers: percentiles, host controls, memory."""

from __future__ import annotations

import math
import os
import statistics
import time


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile (0 < p < 100) by the nearest-rank rule.

    Refuses to answer unless at least 10 samples lie beyond the rank,
    so no reported percentile rests on a handful of outliers."""
    n = len(values)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < 10:
        raise ValueError(f"p{p:g} of {n} samples has only {n - rank} samples beyond it")
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    if len(values) < 2:
        raise ValueError("a median needs at least two samples")
    return statistics.median(values)


def py_loop_s(n: int = 2_000_000) -> float:
    """Wall time of a fixed pure-Python loop: a single-core host probe."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


def spark_noop_s(spark, tasks: int, rows_per_task: int = 1_000_000) -> float:
    """Wall time of a fixed ``tasks``-task JVM-only noop job: a probe of
    parallel capacity (scheduler, JVM and all cores)."""
    t0 = time.perf_counter()
    spark.range(0, tasks * rows_per_task, 1, tasks).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def host_controls(spark, tasks: int) -> dict[str, float]:
    return {"py_loop_s": py_loop_s(), "spark_noop_s": spark_noop_s(spark, tasks)}


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_live_mb(spark) -> float:
    """What the Spark JVM still holds after a full collection: used heap
    plus used non-heap memory (metaspace, code cache), in MB.

    The JVM's resident size is not used for this: it follows the
    collector's heap sizing, which follows GC timing, so it moves by
    tenths from run to run on the same work."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    # Spark's ContextCleaner frees broadcasts and cached blocks that the
    # first collection found unreachable, on its own thread; collect
    # again once it has, so the number does not depend on that race.
    time.sleep(0.2)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / (1024.0 * 1024.0)


def rss_peak_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the Spark JVM, in MB."""
    kb = _vm_hwm_kb("self")
    if jvm_pid is not None:
        try:
            kb += _vm_hwm_kb(jvm_pid)
        except OSError:
            pass
    return kb / 1024.0


def cores() -> int:
    """Cores this process may run on (ignores OMP_NUM_THREADS, which
    ``nproc`` would honour)."""
    return len(os.sched_getaffinity(0))


_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    return raw[raw.rindex(")") + 2 :].split()  # fields from "state" on


def tree_cpu_s(root_pids: list[int]) -> float:
    """CPU seconds (user + system) used so far by ``root_pids`` and all
    their descendants, children already reaped included."""
    parent: dict[int, int] = {}
    fields: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _stat_fields(entry)
        except OSError:
            continue
        pid = int(entry)
        fields[pid] = f
        parent[pid] = int(f[1])
    roots = set(root_pids)
    total = 0
    for pid, f in fields.items():
        p = pid
        while p > 1 and p not in roots:
            p = parent.get(p, 0)
        if p in roots:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def jvm_thread_cpu_s(jvm_pid: int) -> dict[str, float]:
    """CPU seconds used so far by the JVM's JIT compiler threads
    (``jit``) and its garbage-collector threads (``gc``)."""
    out = {"jit": 0.0, "gc": 0.0}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        kind = "jit" if "CompilerThre" in comm else "gc" if comm.startswith(("GC Thread", "G1 ")) else None
        if kind:
            f = raw[raw.rindex(")") + 2 :].split()
            out[kind] += (int(f[11]) + int(f[12])) / _TICK
    return out


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs."""
    with open("/proc/stat") as fh:
        cols = fh.readline().split()
    return int(cols[8]) / _TICK
