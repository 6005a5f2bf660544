"""SparkSession construction.

Mirrors the reference's single session-level concern — a correctly
configured builder (reference: src/etl/spark_deltalake_sync.py:53-59 sets
Delta extensions; delta jars are not in this image, so the Delta configs
are applied only if the package is importable) — plus the scale posture
the reference never had: AQE, sane shuffle partitioning, Arrow, UTC.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def default_driver_memory() -> str:
    """`spark.driver.memory` when SPARK_DRIVER_MEMORY is unset: a
    quarter of the host's physical memory, capped at 48g. A 48g heap on
    a smaller host never triggers a full GC before the kernel OOM-kills
    the JVM, and the tests and child benches run more than one JVM."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mb = int(line.split()[1]) // 4096
                    return f"{min(max(mb, 1024), 48 << 10)}m"
    except (OSError, ValueError):
        pass
    return "48g"


def get_spark(
    app_name: str = "pse-stocks-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    **extra_conf: str,
) -> SparkSession:
    """Build (or fetch) the session.

    Defaults are tuned for local[N] testing but every setting is the one
    you'd also want on a real cluster at 100 TB: AQE for runtime
    re-planning + skew joins, shuffle partitions ~ cores (AQE coalesces
    up, never down), UTC session timezone so timestamps hash-match a
    naive-UTC oracle, Arrow for any pandas interchange.
    """
    cores = default_parallelism()
    master = master or os.environ.get("SPARK_MASTER") or f"local[{cores}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Testdata parquet carries TIMESTAMP(NANOS) which Spark has no type
        # for; read as long and sources/catalog.py converts to µs timestamps
        # (matching DuckDB's ns→µs truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
    )
    try:  # Delta is optional in this image; enable iff present.
        import delta  # noqa: F401

        b = b.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    except ImportError:
        pass
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
