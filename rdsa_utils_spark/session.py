"""Sized SparkSession factory.

Capability parity: reference ``rdsa_utils/helpers/pyspark.py:647-796``
(``create_spark_session`` with small/medium/large/extra-large presets,
AQE + dynamic allocation on, Hive support). Re-designed rather than
translated: presets are a dict of configs, a ``local`` profile exists
for tests/CI, and every session pins a UTC timezone and Arrow so that
results are reproducible against external oracles.
"""

from __future__ import annotations

import os
from typing import Mapping, Optional

from pyspark.sql import SparkSession

# Preset name -> spark configs. Cluster presets mirror the reference's
# sizing philosophy (helpers/pyspark.py:744-784): shuffle partitions
# scale with executor count, AQE always on so the static setting is a
# ceiling, dynamic allocation bounded per size.
SESSION_PRESETS: dict[str, dict[str, str]] = {
    "small": {
        "spark.executor.memory": "1g",
        "spark.executor.cores": "1",
        "spark.dynamicAllocation.maxExecutors": "3",
        "spark.sql.shuffle.partitions": "12",
    },
    "medium": {
        "spark.executor.memory": "6g",
        "spark.executor.cores": "3",
        "spark.dynamicAllocation.maxExecutors": "3",
        "spark.sql.shuffle.partitions": "18",
    },
    "large": {
        "spark.executor.memory": "10g",
        "spark.executor.memoryOverhead": "1g",
        "spark.executor.cores": "5",
        "spark.dynamicAllocation.maxExecutors": "5",
        "spark.sql.shuffle.partitions": "200",
    },
    "extra-large": {
        "spark.executor.memory": "20g",
        "spark.executor.memoryOverhead": "2g",
        "spark.executor.cores": "5",
        "spark.dynamicAllocation.maxExecutors": "12",
        "spark.sql.shuffle.partitions": "240",
    },
}

# Configs shared by every session: AQE (runtime shuffle coalescing,
# skew-join splitting, dynamic broadcast switch), Arrow for the
# pandas-UDF path, UTC so timestamps round-trip against any oracle.
_COMMON_CONFIGS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet is the canonical storage format; always prune + push down.
    "spark.sql.parquet.filterPushdown": "true",
    # Spark 4 infers parquet timestamp[us] (no tz) as TIMESTAMP_NTZ, which
    # breaks casts to numeric and Structured Streaming watermarks
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The engine contract is
    # TimestampType (LTZ) with a UTC session zone, so read the legacy way.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.timestampType": "TIMESTAMP_LTZ",
}


#: Container memory limits, cgroup v2 then v1. A missing file or the
#: v2 value ``max`` means no limit; v1 reports "no limit" as a huge
#: number, which the minimum with physical RAM absorbs.
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _machine_memory_bytes() -> Optional[int]:
    """The memory this process may use: the lesser of physical RAM
    and the cgroup limit, since inside a container ``sysconf`` reports
    the HOST's RAM. ``None`` when neither can be read."""
    limits = []
    try:
        limits.append(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    except (ValueError, OSError, AttributeError):
        pass
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limits.append(int(raw))
    return min(limits) if limits else None


def _local_driver_memory() -> Optional[str]:
    """The local profile's ``spark.driver.memory``:
    ``SPARK_LOCAL_DRIVER_MEM`` when set, else a quarter of
    :func:`_machine_memory_bytes` capped at 8g (at least 1g), else
    ``None`` (Spark's default)."""
    override = os.environ.get("SPARK_LOCAL_DRIVER_MEM")
    if override:
        return override
    mem = _machine_memory_bytes()
    if mem is None:
        return None
    return f"{max(1, min(8, mem // (4 * 1024**3)))}g"


def create_spark_session(
    app_name: str = "rdsa_utils_spark",
    size: Optional[str] = None,
    extra_configs: Optional[Mapping[str, str]] = None,
    enable_hive: bool = False,
) -> SparkSession:
    """Create (or get) a SparkSession with sized defaults.

    Parameters
    ----------
    app_name
        Spark application name.
    size
        One of ``small | medium | large | extra-large | local`` or
        ``None``. ``local`` (and ``None`` when no master is configured
        in the environment) builds a ``local[*]`` session sized for a
        single machine: shuffle partitions = CPU count, driver memory
        from ``SPARK_LOCAL_DRIVER_MEM``, else a quarter of the
        machine's memory capped at 8g (see
        :func:`_local_driver_memory`). Cluster presets mirror
        reference sizing.
    extra_configs
        Applied last — callers can override anything.
    enable_hive
        Add Hive catalog support (reference always enables it; we make
        it opt-in since local tests run on parquet files).
    """
    builder = SparkSession.builder.appName(app_name)

    if size is not None and size not in SESSION_PRESETS and size != "local":
        raise ValueError(
            f"size must be one of {sorted(SESSION_PRESETS)} + ['local'], got {size!r}",
        )

    if size in SESSION_PRESETS:
        for key, value in SESSION_PRESETS[size].items():
            builder = builder.config(key, value)
        builder = builder.config("spark.dynamicAllocation.enabled", "true")
        builder = builder.config("spark.dynamicAllocation.shuffleTracking.enabled", "true")
    else:
        # Local profile: one JVM, threads = cores.
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
        builder = builder.master(f"local[{cpus}]")
        builder = builder.config("spark.sql.shuffle.partitions", cpus)
        builder = builder.config("spark.ui.enabled", "false")
        # Heap (guide §5): Spark's 1g default is sized for a thin
        # cluster driver, but a local[N] session IS the executor — N
        # concurrent task threads share the one heap, and a long
        # session additionally retains SQL/stage metadata for every
        # query it ran. At 1g the JVM is GC-bound (measured: the full
        # 250-query bench dropped 30% wall-clock, with per-stage
        # summed task time down up to 20x, when the heap was raised).
        # Default to a machine-derived size — a quarter of the
        # machine's memory capped at 8g — overridable via
        # SPARK_LOCAL_DRIVER_MEM.
        driver_mem = _local_driver_memory()
        if driver_mem:
            builder = builder.config("spark.driver.memory", driver_mem)

    for key, value in _COMMON_CONFIGS.items():
        builder = builder.config(key, value)

    if enable_hive:
        builder = builder.enableHiveSupport()

    if extra_configs:
        for key, value in extra_configs.items():
            builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
