"""SparkSession factory tuned for the local[32] sandbox.

At cluster scale the same settings apply except master/memory; AQE +
skew-join handling is what makes the hot-term shuffles survive 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """48g, capped at 60 % of physical memory: a JVM allowed more heap
    than the host has gets OOM-killed instead of collecting garbage."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 << 10, int(phys * 0.6) >> 20)}m"


def get_spark(
    app_name: str = "quickwit_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    # Python workers inherit this env: one Arrow/OpenMP thread each.
    # Without it every applyInPandas worker spawns a cores-wide Arrow
    # pool (32 workers x 32 threads thrashed kernels ~4x slower).
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    # make quickwit_spark importable in python workers regardless of cwd
    # (the local-mode analog of spark-submit --py-files)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # single large parquet files should still scan wide
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
