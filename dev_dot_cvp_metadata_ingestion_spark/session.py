"""SparkSession factory.

Local mode is a single JVM with N executor threads; on a real cluster the
same confs apply per-executor. AQE is on so skewed shuffles re-plan at
runtime; shuffle partitions default to the core count (not 200) because
the local harness has no network shuffle to amortize.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _default_driver_memory() -> str:
    """Pick a driver heap that fits the machine.

    Local mode runs every worker thread inside the driver JVM, so this
    heap is the whole cluster's execution+storage memory. 16g keeps 32
    threads out of spill territory on the heavy quadratic-verify
    queries, but would refuse to start on a <16 GiB dev laptop — so cap
    at ~half of MemAvailable and floor at 2g. SPARK_DRIVER_MEMORY
    always wins (documented in README).
    """
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    avail_gib = None
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gib = int(line.split()[1]) / (1024 * 1024)
                    break
    except OSError:
        pass
    if avail_gib is None:
        return "4g"
    return f"{max(2, min(16, int(avail_gib // 2)))}g"


def get_spark(
    app_name: str = "cvp-metadata-ingestion-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the testdata's events table stores TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in the
        # catalog (sources/catalog.py) — exact integer division, no
        # double round-trip
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # a repeated JSON key keeps its last value, as in json.loads
        .config("spark.sql.variant.allowDuplicateKeys", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
