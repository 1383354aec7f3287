"""SparkSession factory with the engine's standard configuration.

Scale posture (SURVEY.md §4.3): AQE on (runtime shuffle-partition
coalescing + skew-join handling), UTC session timezone (reference
normalizes all timestamps to UTC, get_news.py:275), Arrow enabled for
the Pandas-UDF enrichment path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Half of physical memory, capped at 48g: the driver JVM of a
    ``local[N]`` run is the whole engine, but a heap sized past the
    host's RAM grows until the kernel kills it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 * 1024, phys // 2 // 2**20)}m"


def get_spark(app_name: str = "newsflow", master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    In production this runs on a real cluster (master from env); tests
    and the driver run ``local[N]``. All settings below are
    cluster-safe: AQE re-plans shuffles at runtime, the broadcast
    threshold lets small dimensions (region/nation/supplier) broadcast
    automatically, and UTC keeps timestamp semantics engine-portable.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Local-bench default: the test warehouse's parquet files are
        # ~10 MB, so the cluster default (128m) yields single-partition
        # scans that idle 31 of 32 cores. Real deployments reading
        # 128 MB+ row groups should export SPARK_GRAFT_MAX_PARTITION_BYTES=128m.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        # keep the managed-table warehouse out of the checkout: the
        # default ("spark-warehouse" under CWD) litters the repo root
        # on every pytest/bench run even though no query here creates
        # managed tables
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR", "/tmp/cndp-spark-warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
