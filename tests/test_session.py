"""The shared local session (`geowave_spark.session.local_session`) takes
its cores and heap from the machine, so the gate, the tests and the bench
all run one machine-sized config."""
import os

CORES = len(os.sched_getaffinity(0))


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise AssertionError("MemTotal missing from /proc/meminfo")


def test_master_uses_the_machine_cores(spark):
    assert spark.sparkContext.master == f"local[{CORES}]"


def test_shuffle_width_is_twice_the_cores(spark):
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(2 * CORES)


def test_driver_heap_is_half_of_physical_ram(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.memory") == f"{_mem_total_kb() // 2048}m"


def test_driver_heap_is_not_pinned(spark):
    opts = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", "")
    assert "-Xms" not in opts
