"""Host facts, Spark launch settings sized to the host, and process
probes read from /proc."""

from __future__ import annotations

import os
import platform
import time


def nproc() -> int:
    """Cores this process may run on (what `nproc` reports without an
    OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_gb(mem_kb: int) -> int:
    """Driver heap: a quarter of host memory, at least 1 GiB and at most
    4 GiB. The host is shared, and the benchmark's inputs are small."""
    return max(1, min(4, mem_kb // (4 * 1024 * 1024)))


def configure_launch(work: str, mem_kb: int) -> dict[str, str]:
    """Environment for the Spark launch, set before the session starts:
    driver heap through SPARK_GRAFT_DRIVER_MEM, shuffle scratch through
    SPARK_GRAFT_LOCAL_DIR, and every temporary file (Python's and the
    JVM's) under `work`. Returns what was set."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_gb(mem_kb)}g",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def memcpy_warm_mb_s(n_mb: int = 64) -> float:
    """Warm large-block memory write bandwidth, a host field only."""
    buf = bytearray(n_mb * 1_000_000)
    pattern = b"\1" * len(buf)
    buf[:] = pattern
    t0 = time.perf_counter()
    buf[:] = pattern
    return n_mb / (time.perf_counter() - t0)


def versions(spark) -> dict[str, str]:
    jvm = spark.sparkContext._jvm
    return {
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "spark": spark.version,
        "python": platform.python_version(),
    }


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat; the
    steal share over a window shows time the hypervisor gave to other
    guests."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def proc_cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds used so far by these processes and
    by the children they have reaped (a Python worker that exited)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])
    return total / tick


def engine_cpu_s(jvm: int) -> float:
    """CPU seconds used so far by the engine: this driver process, the
    gateway JVM and every process under it (the Python worker daemon
    and its workers). Time the hypervisor steals from the host is not
    counted, so the figure holds when neighbours load the host."""
    me = os.times()
    return me.user + me.system + proc_cpu_s([jvm] + descendants(jvm))


def descendants(pid: int) -> list[int]:
    """All live descendants of `pid`, from the parent ids in /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each process."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
