"""DDL / catalog / session-operator coverage (SURVEY.md §2.9 D1-D9):
every runbook DDL statement has a working analog — built-in Spark SQL
for namespaces/tables/configs, our Lakehouse catalog for the
property-carrying lakehouse tables.
"""

from __future__ import annotations

import pytest

from local_datalakehouse_phase2_spark.lakehouse import Lakehouse


def test_show_catalogs_d1(spark):
    # guide :81-82 expects the configured catalogs; stock Spark exposes
    # spark_catalog (session catalog) at minimum
    cats = [r.catalog for r in spark.sql("SHOW CATALOGS").collect()]
    assert "spark_catalog" in cats


def test_namespace_ddl_d2_d3_d4(spark):
    # guide :89-96 — CREATE NAMESPACE ... WITH PROPERTIES, SHOW, DESCRIBE
    spark.sql("CREATE DATABASE IF NOT EXISTS lab_ddl WITH DBPROPERTIES ('comment'='lab namespace')")
    try:
        dbs = [r.namespace for r in spark.sql("SHOW DATABASES").collect()]
        assert "lab_ddl" in dbs
        # Spark stores a 'comment' DBPROPERTY as the namespace comment
        # (reserved key) — assert it surfaces in the extended describe
        desc = spark.sql("DESCRIBE DATABASE EXTENDED lab_ddl").collect()
        assert any("lab namespace" in str(r) for r in desc), desc
    finally:
        spark.sql("DROP DATABASE IF EXISTS lab_ddl CASCADE")


def test_table_ddl_d5_d6_d7_d8(spark, tmp_path):
    # guide :102-115, :220-224 — CREATE TABLE ... TBLPROPERTIES, SHOW
    # TABLES, DESCRIBE EXTENDED, ALTER ... SET TBLPROPERTIES
    spark.sql("CREATE DATABASE IF NOT EXISTS lab_tbl")
    try:
        spark.sql(
            f"""
            CREATE TABLE lab_tbl.small_files (id BIGINT, name STRING)
            USING parquet
            LOCATION '{tmp_path}/small_files'
            TBLPROPERTIES ('write.target-file-size-bytes'='65536',
                           'write.distribution-mode'='none')
            """
        )
        tables = [r.tableName for r in spark.sql("SHOW TABLES IN lab_tbl").collect()]
        assert "small_files" in tables
        desc = spark.sql("DESCRIBE TABLE EXTENDED lab_tbl.small_files").collect()
        assert any("Table Properties" in str(r) for r in desc)
        spark.sql("ALTER TABLE lab_tbl.small_files SET TBLPROPERTIES ('gc.enabled'='false')")
        props = spark.sql("SHOW TBLPROPERTIES lab_tbl.small_files").collect()
        assert {"gc.enabled": "false"}.items() <= {r.key: r.value for r in props}.items()
    finally:
        spark.sql("DROP DATABASE IF EXISTS lab_tbl CASCADE")


def test_session_config_d9(spark):
    # guide :157 — SET spark.sql.shuffle.partitions=4
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.sql("SET spark.sql.shuffle.partitions=4")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_lakehouse_tables_in_sql(spark, tmp_path):
    """Lakehouse tables interoperate with spark.sql via temp views of
    their snapshot reads — the two-surface pattern the runbook uses."""
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    lake.create_namespace("lab")
    t = lake.create_table("lab.v", schema="id bigint")
    t.append(spark.range(0, 7).selectExpr("id"))
    t.read().createOrReplaceTempView("lab_v")
    assert spark.sql("SELECT COUNT(*) AS n FROM lab_v").collect()[0].n == 7
    t.snapshots().createOrReplaceTempView("lab_v_snapshots")
    ops = [r.operation for r in spark.sql(
        "SELECT operation FROM lab_v_snapshots ORDER BY snapshot_id"
    ).collect()]
    assert ops == ["create", "append"]


def test_catalog_identifier_guards(spark, tmp_path):
    """Malformed identifiers must be rejected before they touch the
    filesystem: 'ns.' would make the table dir BE the namespace dir
    (and drop_table rmtree the whole namespace); lookups of missing
    tables must not leave phantom metadata dirs behind."""
    import pytest

    from local_datalakehouse_phase2_spark.lakehouse import CatalogError, Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    lake.create_namespace("ns")
    lake.create_table("ns.real", schema="k bigint")

    for bad in ("ns.", ".t", "ns.a/b", "ns.a.b.c", "ns...", "../x.t"):
        with pytest.raises(CatalogError):
            lake.drop_table(bad)
    with pytest.raises(CatalogError):
        lake.drop_table("ns.nonexistent")

    with pytest.raises(CatalogError):
        lake.table("ns.typo")
    # the failed lookup left no phantom table behind
    assert lake.tables("ns") == ["real"]


def test_parsed_ddl_schema_is_a_private_copy(spark):
    """The DDL parse memo hands every caller its own StructType: a
    caller mutating the returned schema must not change the next
    parse of the same DDL."""
    from pyspark.sql import types as T

    from local_datalakehouse_phase2_spark.lakehouse.table import _parse_ddl_cached

    ddl = "k bigint, v string"
    first = _parse_ddl_cached(ddl)
    first.add("extra", T.IntegerType())
    first.fields[0].name = "renamed"
    again = _parse_ddl_cached(ddl)
    assert again.simpleString() == "struct<k:bigint,v:string>"
    assert again is not _parse_ddl_cached(ddl)
    assert _parse_ddl_cached("bigint") == T.LongType()  # bare types too
