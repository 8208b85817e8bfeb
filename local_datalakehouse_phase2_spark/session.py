"""SparkSession factory for the engine.

Mirrors the reference environment's session-level settings
(UTC timezone pinned at /root/reference/docker-compose.yml:86 and
SPARK_ICEBERG_GUIDE.md:42-44; shuffle-partition tuning shown at
SPARK_ICEBERG_GUIDE.md:157) but expressed as an idiomatic local
PySpark builder with AQE enabled for runtime re-planning.

At cluster scale the same factory is used with a different master URL;
nothing in the engine assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "local_datalakehouse_phase2_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Settings chosen for correctness + scale:
    - UTC session timezone (oracle comparisons + reference parity).
    - AQE on, with partition coalescing and skew-join handling: at
      100 TB the static shuffle-partition number is always wrong, so
      let AQE re-plan from runtime statistics.
    - Arrow enabled for any pandas-UDF path.
    - Generated-class cache (`spark.sql.codegen.cache.maxEntries`, a
      static conf) at 1024 entries instead of 100. One pass of the 22
      benchmark queries needs 439 distinct whole-stage and projection
      classes; it walks them in order, so at 100 the LRU evicts each
      class before its reuse and a warm pass recompiles about 450 of
      them (Janino compile, class define and re-JIT every time). 1024
      is more than twice that working set.
    """
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # plan-inspection fidelity: the explain renderer truncates
        # ReadSchema/metadata strings at this length (default 100), and
        # a truncated ReadSchema makes column-pruning assertions pass
        # vacuously on wide schemas
        .config("spark.sql.maxMetadataStringLength", "2000")
        # Fixture `events.ts` is parquet TIMESTAMP(NANOS): Spark has no
        # nanosecond timestamp type, so read as long and convert in the
        # loader (sources/loaders.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
