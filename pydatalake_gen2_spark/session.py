"""SparkSession factory.

Confs chosen for oracle parity and scale-out design:

- ``spark.sql.session.timeZone=UTC``: parquet timestamps are naive; DuckDB
  reads them naive-UTC. Pinning the session TZ makes Spark render identical
  wall-clock values, which the driver's value-hash compares.
- AQE on (coalesce partitions + skew join): at 100 TB the static shuffle
  partition count is always wrong somewhere; AQE re-plans per stage.
- ``spark.sql.shuffle.partitions``: defaults to cores locally. On a real
  cluster this would be ~2-3x total cores (or left to AQE's
  initialPartitionNum); expose it as an argument.
- Arrow enabled: every pandas_udf / applyInPandas transfers via Arrow
  batches instead of pickled rows.
- ``spark.driver.memory``: ``SPARK_DRIVER_MEM`` if set, else ~60% of the
  host's RAM in whole GB (``default_driver_memory``). In local mode the
  driver JVM holds every executor too; the rest of the host is left to
  the Python workers and the OS.
- ``spark.python.daemon.module``: on CPython 3.11 (3.13 is lazy) a reused
  worker re-read pyspark.zip's directory per ``zipimporter`` on each
  task's ``importlib.invalidate_caches()``, 0.2-0.3 s CPU per task;
  ``worker.py`` skips that while the zip is unchanged. Workers import this
  package, as UDFs must: ``kmeans.update`` pickles ``_nearest`` by reference.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def mem_total_bytes(meminfo: str = "/proc/meminfo") -> int:
    """``MemTotal`` in ``meminfo``, in bytes; where that file is absent,
    the physical pages sysconf reports."""
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return kb * 1024
    except (OSError, StopIteration):
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """60% of ``mem_total_bytes(meminfo)``, floored to whole GB (at least
    ``1g``)."""
    return f"{max(1, int(0.6 * mem_total_bytes(meminfo) / 2**30))}g"


def get_spark(
    app_name: str = "pydatalake_gen2_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Write TIMESTAMP_MICROS, not legacy INT96: INT96 columns carry NO
        # parquet min/max statistics, which silently disables the zone-map
        # file/row-group skipping the sorted layouts (s13) exist for.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Some fixture generations write events.ts as TIMESTAMP(NANOS);
        # this conf lets the loader read those as raw int64 and truncate
        # to µs (tables.py sniffs the footer). Harmless for µs fixtures.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", "pydatalake_gen2_spark.worker")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
