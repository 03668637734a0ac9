"""SparkSession factory with scale-appropriate defaults.

Local tests run on ``local[N]`` but every config choice is made for a
1000-executor cluster reading ~100 TB:

- AQE on (runtime coalescing + skew-join splitting) — the same-as/dedup
  group keys and mega-repo partitions are skewed by construction.
- Arrow enabled for all pandas UDF exchange.
- shuffle partitions default to cores in local mode; on a cluster this is
  overridden to ~2-3x total cores (or left to AQE's coalescing from a high
  initial number).

Defaults fit the machine: without ``SPARK_GRAFT_CPUS`` the local master
and the shuffle partitions use the CPUs this process may run on, and
without ``SPARK_DRIVER_MEM`` the driver (which hosts the executors in
local mode) gets half the physical RAM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def machine_cpus() -> int:
    """CPUs in this process's affinity mask (all CPUs where there is none)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def machine_driver_memory() -> str:
    """Half the physical RAM in whole GiB (at least 1g), as a JVM size."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2**31)}g"


def get_spark(
    app_name: str = "ta2-minmod-kg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or machine_cpus())
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    nshuffle = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or machine_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
