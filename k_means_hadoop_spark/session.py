"""SparkSession factory.

Local test harness runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
configs below are chosen so the same code is correct on a 1000-executor
cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), shuffle partitions sized to the parallelism actually
available, Arrow enabled for the few pandas-interop paths.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_SCRATCH_ROOT: str | None = None


def scratch_dir(tag: str) -> str:
    """A fresh temp dir under ONE per-process scratch root that is
    removed at interpreter exit.  The wire-format roundtrip queries and
    streaming checkpoint/staging dirs would otherwise leak a directory
    (holding a full copy of the points/assignment tables) per driver
    correctness run and per test invocation."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="kmh_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{tag}_", dir=_SCRATCH_ROOT)


def driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM`` when set, else a quarter of physical
    memory capped at 48g, so a second Spark process beside this one
    still fits in RAM."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is not None:
        return mem
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, ram_mb // 4)}m"


def get_spark(app_name: str = "k_means_hadoop_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata events.parquet carries TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert explicitly
        # (sources/events.py) — integer division, no double round-trip.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
