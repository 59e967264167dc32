"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-planning, skew-join splitting, partition coalescing), shuffle
partitions sized to cores (not the 200 default), Arrow enabled for the
Pandas-UDF slow path, and UTC session time so results are oracle-comparable.

At 100 TB the same code runs unchanged; only ``master`` and the memory knobs
move into spark-submit / cluster config.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ceiling of the default driver heap, in MiB (48g)
_MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset: half the
    machine's physical memory, capped at 48g.  A heap sized past the box
    gets the process OOM-killed instead of spilling; big machines keep
    the 48g cap."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(_MAX_DRIVER_MEM_MB, phys_bytes // 2**21)}m"


def get_spark(
    app_name: str = "chainweb-data-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
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
        # driver testdata stores TIMESTAMP(NANOS) which Spark has no type
        # for; read as long and convert in the loader (values are µs-aligned)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # bucketed tables (sources/bucketed.py) go through the session
        # catalog; keep its metadata directory out of the working tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/cds-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
