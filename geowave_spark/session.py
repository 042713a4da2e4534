"""The one local SparkSession every in-repo entry point runs on.

`bench.py`, the CLI, the correctness gate, the tools and the test suite
all call `local_session()`, so the configuration the gate checks is the
one `bench.py` times.  `perfbench/` builds its own session with a smaller
heap, and a spark-submit job keeps the session its launcher configures.

Cores and heap come from the machine, not from constants: `local[cores]`
with cores = the size of the process's CPU affinity mask (`taskset`
narrows it), and a driver heap of half of physical RAM.  Two of these
JVMs can be alive at once -- the pytest fixture while `test_cli` runs
CLI subprocesses, or `bench.py --isolate`'s parent while its child
runs -- and their heap caps then add up to all of RAM before Python
workers and off-heap memory.  No failure has been seen from it, but a
change to the heap policy should measure that case.
"""

from __future__ import annotations

import os


def _half_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 2048  # kB -> MB, halved
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def local_session():
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("geowave-spark")
        # 2x cores leaves AQE room to coalesce without capping reduce
        # stages below the core count
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        # Arrow for driver<->JVM pandas conversion (pickle path is ~8x slower
        # for the broadcast cover tables)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 10k-row default Arrow batches make the vectorized refine pay its
        # per-batch pandas/serde overhead 5000+ times on the big join; 128k
        # rows amortizes it (the kernel itself is O(rows))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # no -Xms: a pinned heap is committed up front, which a box shared
        # with the Python workers cannot afford.  ParallelGC for batch
        # throughput.  q12, whose sf0.1 time swung 2x under G1, stays
        # steady without -Xms: four bench.py runs on a 4-core 15.7 GiB
        # box timed it at 4.5-5.3 s best-of-3
        .config("spark.driver.memory", f"{_half_ram_mb()}m")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # testdata files are tiny; split scans so map stages use all cores
        # (a 100 TB table gets this from its thousands of file splits)
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .getOrCreate()
    )
