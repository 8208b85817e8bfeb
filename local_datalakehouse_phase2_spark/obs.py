"""Cumulative engine counters read from the JVM.

Each reader returns a running total for the whole process; a caller
takes the difference across the work it wants to count. Both are exact
and synchronous, so a test can pin them where walls are host noise.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def next_job_id(spark: SparkSession) -> int:
    """The DAG scheduler's next job id: its delta is the number of Spark
    jobs started in between. Exact where the status tracker's per-group
    job list fills in later from the listener bus."""
    nid = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    # py4j auto-converts the AtomicInteger on some Spark builds and hands
    # back the raw Java object on others
    return nid.get() if hasattr(nid, "get") else int(nid)


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM. A class
    served from the generated-class cache does not count, so in a warm
    session this stays flat unless plans are new or the cache thrashes."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
