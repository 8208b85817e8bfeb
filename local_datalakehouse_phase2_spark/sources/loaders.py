"""Table sources: load the driver's parquet fixtures as DataFrames.

Maps the reference's scan operators (SURVEY.md S1 table scan, S7
parquet binding — /root/reference/SPARK_ICEBERG_GUIDE.md:129,137) onto
`spark.read.parquet`. Paths stay abstract (any filesystem URI Spark
supports) so the same loader works against `file://`, `s3a://`, etc.;
only configuration changes at cluster scale (SURVEY.md S8).
"""

from __future__ import annotations

import copy
import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session confs that change how a parquet footer maps to Spark types: an
# inferred schema is only reusable while all of them are unchanged.
_FOOTER_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_MAX_SCHEMAS = 1024
# (realpath, inode, mtime_ns, size, *footer confs) -> the schema Spark
# inferred for that file. Content-keyed, so one memo serves every session.
_schemas: dict[tuple, StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` that infers a local file's schema once.

    Spark infers a parquet schema by running a one-task job that reads
    the footer, on every read. For a local regular file the inferred
    schema is memoized under the file's identity (realpath, inode,
    mtime, size) plus the current values of `_FOOTER_CONFS`, and later
    reads pass it to `spark.read.schema(...)`: no job, and the same
    analyzed plan, since file sources make the schema nullable either
    way. Rewriting the file or changing one of those confs misses the
    memo and infers again. Any other path (a directory, a remote URI)
    is inferred on every read, as before.
    """
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.realpath(path),
        st.st_ino,
        st.st_mtime_ns,
        st.st_size,
        *(spark.conf.get(k) for k in _FOOTER_CONFS),
    )
    schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    # Two threads missing on the same key both infer and store the same
    # schema: a wasted job, never a wrong one.
    df = spark.read.parquet(path)
    if len(_schemas) >= _MAX_SCHEMAS:
        _schemas.pop(next(iter(_schemas)))
    # a copy: `df.schema` is the frame's own object, which callers may
    # mutate (`StructType.add` works in place)
    _schemas[key] = copy.deepcopy(df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan => Catalyst gets predicate
    pushdown, column pruning, and row-group skipping for free.

    `events.ts` has shipped as either parquet TIMESTAMP(MICROS) or
    TIMESTAMP(NANOS, isAdjustedToUTC=false) across fixture
    generations, so the conversion is schema-adaptive: a LongType read
    (nanos-as-long, session config
    `spark.sql.legacy.parquet.nanosAsLong`) is divided down to micros;
    a native timestamp read is just cast. Either way the column lands
    as TIMESTAMP_NTZ to match the naive-timestamp semantics of the
    other fixture tables and of DuckDB.

    The read goes through `read_parquet`, so only the first read of a
    fixture file runs Spark's footer-inference job. Later reads reuse
    the inferred schema while the file's realpath, inode, mtime and
    size and the footer-mapping session confs (`nanosAsLong`, set just
    below for `events`, `binaryAsString`, `int96AsTimestamp`,
    `inferTimestampNTZ.enabled`) are unchanged.
    """
    if name == "events":
        # The conf is runtime-settable, so set it here rather than relying
        # on session-build config: any foreign SparkSession (driver
        # harness, notebook) that didn't go through session.py can still
        # read a NANOS column. Harmless for MICROS files.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql.types import LongType

        # BOTH conversion branches strip a zone using the SESSION
        # timezone (timestamp_micros produces an instant; casting any
        # TIMESTAMP to NTZ localizes it), so a foreign SparkSession not
        # pinned to UTC would shift every value by its tz offset. Pin
        # it here (runtime-settable, idempotent) rather than trusting
        # session.py ran.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # integer `div`, NOT `/`: float division of epoch-nanos
            # (~1.7e18) exceeds double's 53-bit mantissa and lands
            # ±hundreds of ns off.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def parallel_scan(
    spark: SparkSession, sf_dir: str, name: str, min_partitions: int | None = None
) -> DataFrame:
    """load_table + fan-out for CPU-bound downstream stages.

    A single-file, single-row-group parquet source arrives as ONE input
    split, which serializes every expensive per-row stage (Arrow UDFs,
    shingle hashing, wide regex projections) onto one core no matter how
    many the cluster has. A round-robin repartition to defaultParallelism
    costs one shuffle of the raw rows — tiny relative to the compute it
    unblocks — and restores full fan-out. At warehouse scale the source
    already has >= cores splits and this is a no-op, so the shape is
    scale-safe in both directions.
    """
    df = load_table(spark, sf_dir, name)
    n = min_partitions or spark.sparkContext.defaultParallelism
    # len(df.inputFiles()) is a metadata-only lower bound on the number of
    # input splits — it avoids the RDD conversion / plan compilation that
    # df.rdd.getNumPartitions() forces just to count partitions.
    if len(df.inputFiles()) < n:
        df = df.repartition(n)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table and register it as a temp view so both the
    DataFrame API and spark.sql can see the same relations."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
