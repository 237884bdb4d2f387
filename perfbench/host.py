"""Host fingerprint, process age and CPU steal accounting (Linux ``/proc``)."""

from __future__ import annotations

import os
import platform
import time


def process_age() -> float:
    """Seconds since this process started: its start time in
    /proc/self/stat (clock ticks after boot) against the boot clock."""
    with open("/proc/self/stat") as fh:
        # fields after the parenthesised command name start at field 3
        fields = fh.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ... (empty off Linux)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Between two ``cpu_jiffies`` readings, the share of the CPU time
    this guest wanted (busy plus steal; idle and iowait left out) that
    the hypervisor gave to other guests instead.  0 off Linux or when
    nothing ran."""
    if len(before) < 8 or len(after) < 8:
        return 0.0
    d = [b - a for a, b in zip(before, after)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / wanted if wanted else 0.0


def unstolen(seconds: float, steal: float) -> float:
    """Wall ``seconds`` without the share the host stole: what the
    interval would have taken had every vCPU run whenever it wanted."""
    return seconds * (1.0 - steal)


def fingerprint() -> dict:
    """Static host facts recorded with every result set."""
    try:
        load = os.getloadavg()
    except OSError:
        load = (0.0, 0.0, 0.0)
    try:
        import pyspark

        spark_version = pyspark.__version__
    except ImportError:
        spark_version = None
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark_version,
        "python": platform.python_version(),
        "machine": platform.machine(),
        "loadavg_start": [round(x, 2) for x in load],
    }


def probes(spark) -> dict:
    """Two host-speed probes, recorded beside the metrics and never
    folded into them: the median of 20 one-row Spark jobs (per-job
    latency) and a CPU-bound job sized to the core count (throughput)."""
    lat = []
    for _ in range(20):
        t0 = time.perf_counter()
        spark.range(1).count()
        lat.append(time.perf_counter() - t0)
    cores = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    spark.range(0, 2_000_000 * cores, numPartitions=cores).selectExpr(
        "sum(hash(id) % 1000) AS s"
    ).collect()
    return {
        "job_latency_s": sorted(lat)[len(lat) // 2],
        "throughput_s": time.perf_counter() - t0,
        "cores": cores,
    }
