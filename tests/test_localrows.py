"""local_df (VALUES LocalRelation) must be value- and schema-identical
to the spark.createDataFrame spelling it replaces — the engine's
metadata views / SQL result frames / lifecycle verification rows all
route through it, and the oracle hash gate compares their stringified
values, so any rendering drift is a correctness bug, not a perf one."""

import datetime as dt
import math
import os
import time

import pytest
from pyspark.sql import types as T

from local_datalakehouse_phase2_spark.localrows import local_df


def _same(spark, rows, schema):
    a = local_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema, (a.schema, b.schema)
    # both spellings keep input order; Row equality compares map
    # values as dicts, whose key order the JVM does not preserve
    ra, rb = a.collect(), b.collect()
    assert ra == rb, (ra, rb)
    return a


def _local_scan(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "LocalTableScan" in plan and "Scan ExistingRDD" not in plan


def test_scalars_roundtrip(spark):
    rows = [
        (1, "plain", 1.5, True, None),
        (-(2**62), "qu'ote \\ back\nline", -1e-07, False, 7),
        (0, "", 123456.789012, None, None),
    ]
    df = _same(spark, rows, "k bigint, s string, d double, b boolean, n bigint")
    # and it really is the JVM path: a LocalTableScan (few JVM tasks,
    # no Python runner), not a 32-partition pickled-rows parallelize
    assert _local_scan(df), df._jdf.queryExecution().executedPlan().toString()


def test_float_exactness(spark):
    # repr round-trip must reproduce the exact double bits
    vals = [0.1, 1 / 3, 2.2250738585072014e-308, 1.7976931348623157e308]
    rows = [(v,) for v in vals]
    got = {r[0] for r in local_df(spark, rows, "d double").collect()}
    assert got == set(vals)


def test_nan_inf(spark):
    rows = [(float("nan"),), (float("inf",),), (float("-inf"),)]
    got = local_df(spark, rows, "d double").collect()
    assert sorted(str(r[0]) for r in got) == ["-inf", "inf", "nan"]


def test_temporal_and_binary(spark):
    rows = [
        (
            dt.datetime(2026, 8, 15, 12, 30, 45, 123456),
            dt.date(2026, 1, 2),
            b"\x00\xffbin",
        ),
        (None, None, None),
    ]
    _same(spark, rows, "ts timestamp, d date, raw binary")


def test_arrays_and_maps(spark):
    schema = T.StructType(
        [
            T.StructField("a", T.ArrayType(T.LongType())),
            T.StructField(
                "m", T.MapType(T.StringType(), T.ArrayType(T.StringType()))
            ),
        ]
    )
    rows = [
        ([1, 2, None], {"x": ["1", None], "y": []}),
        ([], {}),
        (None, None),
    ]
    _same(spark, rows, schema)


def test_fallbacks(spark):
    # empty rows, oversized lists, and unrenderable types must still work
    assert local_df(spark, [], "k bigint").count() == 0
    big = [(i,) for i in range(501)]
    assert local_df(spark, big, "k bigint").count() == 501
    # struct column -> createDataFrame fallback
    schema = T.StructType(
        [
            T.StructField(
                "s", T.StructType([T.StructField("x", T.LongType())])
            )
        ]
    )
    assert local_df(spark, [((1,),)], schema).collect()[0][0][0] == 1


def test_decimal(spark):
    from decimal import Decimal

    rows = [(Decimal("123.45"),), (None,)]
    _same(spark, rows, "d decimal(10,2)")


def test_non_null_schemas_stay_local(spark):
    # the lakehouse metadata views declare non-null fields; they must
    # keep the exact schema AND stay on the VALUES path, empty or not
    from local_datalakehouse_phase2_spark.lakehouse.table import (
        FILES_SCHEMA,
        SNAPSHOTS_SCHEMA,
    )

    snaps = [
        (1, dt.datetime(2026, 8, 15, 12, 30, 45, 123456), "append", 1, 0, 1, 20),
        (2, dt.datetime(2026, 8, 15, 12, 31), "delete", 1, 0, 2, 20),
    ]
    files = [
        (0, "/w/t/data/v1/part-0.parquet", 1234, 20,
         {"k": ["1", "20", "0"], "s": [None, None, "20"]}, {"k_bucket": "3"}),
        (1, "/w/t/data/v2/part-0.parquet", 88, 2, {}, None),
        (0, "/w/t/data/v3/part-0.parquet", 77, 0, None, None),  # null maps
    ]
    for rows, schema in (
        (snaps, SNAPSHOTS_SCHEMA),
        (files, FILES_SCHEMA),
        ([], SNAPSHOTS_SCHEMA),
        ([], FILES_SCHEMA),
    ):
        df = _same(spark, rows, schema)
        assert _local_scan(df), (rows, df._jdf.queryExecution().executedPlan())


def test_none_in_non_null_field_raises_like_create_dataframe(spark):
    schema = T.StructType([T.StructField("k", T.LongType(), False)])
    rows = [(1,), (None,)]
    with pytest.raises(Exception) as want:
        spark.createDataFrame(rows, schema)
    with pytest.raises(type(want.value)) as got:
        local_df(spark, rows, schema)
    assert str(got.value) == str(want.value)


def test_metadata_views_run_zero_jobs(spark, tmp_path, spark_jobs):
    from local_datalakehouse_phase2_spark.lakehouse import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "w"))
    lake.create_namespace("lab")
    t = lake.create_table("lab.views", schema="k bigint, v string")
    t.append(local_df(spark, [(i, f"v{i}") for i in range(5)], "k bigint, v string"))
    t.append(local_df(spark, [(9, None)], "k bigint, v string"))
    for view, n_rows in ((t.snapshots, 3), (t.files, 2)):
        rows, jobs = spark_jobs(lambda: view().collect())
        assert len(rows) == n_rows
        assert jobs == 0, f"{view.__name__}() ran {jobs} Spark job(s)"


@pytest.fixture
def driver_tz():
    """`switch(name)` moves the driver's Python time zone off UTC (the
    JVM and the session zone stay UTC); both the TZ variable and the
    zone are restored after the test."""
    old = os.environ.get("TZ")

    def switch(name: str) -> None:
        os.environ["TZ"] = name
        time.tzset()

    yield switch
    if old is None:
        os.environ.pop("TZ", None)
    else:
        os.environ["TZ"] = old
    time.tzset()


def test_collected_timestamps_keep_their_instant_on_a_non_utc_driver(
    spark, tmp_path, driver_tz
):
    """`collect()` hands back TimestampType values as naive datetimes
    in the driver's zone. Rows that re-enter Spark after a collect — a
    copy-on-write DELETE's survivors, a merge-on-read UPDATE's updated
    rows, `CALL ancestors_of`'s history rows — must keep their instants
    when that zone is not the session's UTC."""
    from local_datalakehouse_phase2_spark.lakehouse import Lakehouse, LakehouseSQL

    lake = Lakehouse(spark, str(tmp_path / "w"))
    lake.create_namespace("lab")
    ddl = "k bigint, ts timestamp"
    noon = dt.datetime(2026, 1, 15, 12, tzinfo=dt.timezone.utc)
    rows = [(k, noon) for k in range(4)]
    cow = lake.create_table("lab.cow", schema=ddl)
    cow.append(local_df(spark, rows, ddl))
    mor = lake.create_table(
        "lab.mor", schema=ddl, properties={"write.update.mode": "merge-on-read"}
    )
    mor.append(local_df(spark, rows, ddl))

    driver_tz("America/New_York")
    cow.delete_where("k = 0")
    mor.update_where({"k": "k + 10"}, "k = 0")
    ancestors = LakehouseSQL(lake).sql(
        "CALL nessie.system.ancestors_of(table => 'lab.cow')"
    )

    def instants(df, key, col):
        return sorted(
            tuple(r) for r in df.selectExpr(key, f"unix_micros({col})").collect()
        )

    at_noon = int(noon.timestamp()) * 1_000_000
    assert instants(cow.read(), "k", "ts") == [(k, at_noon) for k in (1, 2, 3)]
    assert instants(mor.read(), "k", "ts") == [(k, at_noon) for k in (1, 2, 3, 10)]
    assert instants(ancestors, "snapshot_id", "made_current_at") == instants(
        cow.history(), "snapshot_id", "made_current_at"
    )
