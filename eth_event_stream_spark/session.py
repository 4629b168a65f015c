"""SparkSession factory tuned for this engine.

Local testing runs a single JVM (``local[N]``); the configs below are chosen so
the same logical plans scale to a real cluster: AQE on (runtime coalesce +
skew-join), shuffle partitions sized to cores locally (on a cluster you would
size to ~2-3x total cores), UTC session time zone so results are comparable
with external oracles, and Arrow enabled for the few Pandas-UDF operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical memory (``MemTotal``), capped at 48g, so a heavy job
    cannot push the driver heap past what the host has."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "48g"
    return f"{min(kib // 2048, 48 * 1024)}m"


def get_spark(
    app_name: str = "eth_event_stream_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let WHERE clauses reach Python data sources' pushFilters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # Files: keep scan partitions big enough to amortize task overhead
        # locally; on a 100 TB cluster the default 128m is right.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
