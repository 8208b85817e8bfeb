"""A warm session redoes only the work that depends on the data.

- Generated classes stay cached across a working set larger than
  Spark's default generated-class cache (100 entries).
- A fixture read infers its parquet schema once per file; a rewritten
  file or a changed footer-mapping conf infers again.
- A write that re-splits its staged files re-reads them with the schema
  it wrote, not with an inference job.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from local_datalakehouse_phase2_spark.lakehouse import Lakehouse
from local_datalakehouse_phase2_spark.sources.loaders import load_table, read_parquet


def test_generated_classes_survive_a_working_set_over_100(spark, codegen_compiles):
    def plan(i: int):
        return lambda: spark.range(1).selectExpr(f"id * {i} AS x").collect()

    _, first = codegen_compiles(plan(1_000_003))
    assert first > 0  # a new plan compiles its classes
    for i in range(130):
        codegen_compiles(plan(i))
    rows, again = codegen_compiles(plan(1_000_003))
    assert rows[0].x == 0
    assert again == 0


def test_second_fixture_read_starts_no_job(spark, spark_jobs, sf_small):
    first, _ = spark_jobs(lambda: load_table(spark, sf_small, "orders"))
    second, jobs = spark_jobs(lambda: load_table(spark, sf_small, "orders"))
    assert jobs == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_file_is_inferred_again(spark, spark_jobs, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    _, jobs = spark_jobs(lambda: read_parquet(spark, path))
    assert jobs == 0
    pq.write_table(pa.table({"a": [3, 4], "b": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, "x"), (4, "y")]


def test_footer_conf_change_is_inferred_again(spark, spark_jobs, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], type=pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    types, jobs = [], []
    try:
        for value in ("true", "false", "true", "false"):
            spark.conf.set(key, value)
            memo, n = spark_jobs(lambda: read_parquet(spark, path))
            bare = spark.read.parquet(path).schema["b"].dataType
            assert memo.schema["b"].dataType == bare
            types.append(type(bare))
            jobs.append(n)
    finally:
        spark.conf.set(key, old)
    assert types == [T.StringType, T.BinaryType] * 2
    # each conf value infers once, then its schema is reused
    assert jobs == [1, 1, 0, 0]


def test_resplit_rereads_staged_files_without_inference(spark, spark_jobs, tmp_path):
    lake = Lakehouse(spark, str(tmp_path / "w"))
    lake.create_namespace("lab")
    t = lake.create_table(
        "lab.t",
        schema="k bigint, v string",
        properties={"write.target-file-size-bytes": "4096"},
    )
    frame = spark.range(20_000).selectExpr("id AS k", "CAST(id * 7 AS string) AS v")
    _, jobs = spark_jobs(lambda: t.append(frame))
    # the staged write, then the re-split's shuffle and its write; a bare
    # re-read of the staged files added a footer-inference job
    assert jobs == 3
    files = t.files().collect()
    assert len(files) > spark.sparkContext.defaultParallelism  # it re-split
    assert all(
        os.path.exists(os.path.join(t.table_dir, r.file_path)) for r in files
    )
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [(i, str(i * 7)) for i in range(20_000)]
