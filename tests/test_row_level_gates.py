"""Row-level commits choose their driver-side path from what they
touch, not from the table's size. On a table above `localrows.WRITE_MAX`
rows:

- a merge-on-read DELETE of a few rows runs ONE Spark job, the bounded
  scan of the matched rows;
- a MERGE from a driver-held (`local_df`) source checks the key
  cardinality rule and counts its source without a job;
- a match over the cap still takes the distributed tombstone writer
  and commits the same table values as the driver path.

A copy-on-write rewrite of files that log at most `WRITE_MAX` rows is
collected once and written with pyarrow, and commits the same table
values as the Spark writer.
"""

from __future__ import annotations

import pytest

from local_datalakehouse_phase2_spark import localrows
from local_datalakehouse_phase2_spark.lakehouse import Lakehouse
from local_datalakehouse_phase2_spark.lakehouse import table as table_mod
from local_datalakehouse_phase2_spark.localrows import local_df

ROWS = localrows.WRITE_MAX + 2_000  # live rows, above the probe's cap
COW_ROWS = 2_000  # above the VALUES cap, within the pyarrow write cap
DDL = "k bigint, v string"
MOR = {
    "write.delete.mode": "merge-on-read",
    "write.update.mode": "merge-on-read",
    "write.merge.mode": "merge-on-read",
}


@pytest.fixture
def lake(spark, tmp_path):
    lake = Lakehouse(spark, str(tmp_path / "w"))
    lake.create_namespace("lab")
    return lake


def _table(spark, lake, name: str, properties: dict | None = None, rows: int = ROWS):
    t = lake.create_table(f"lab.{name}", schema=DDL, properties=properties)
    # one data file: its scan is one partition, so the bounded matched
    # scan is one job
    t.append(
        spark.range(rows)
        .selectExpr("id AS k", "CAST(id % 7 AS STRING) AS v")
        .coalesce(1)
    )
    return t


def _values(t) -> list[tuple]:
    return sorted(tuple(r) for r in t.read().collect())


def _merge_source(spark, rows: int = ROWS):
    # 10 keys that hit the table, 10 that insert
    return local_df(
        spark, [(k, f"m{k}") for k in range(rows - 10, rows + 10)], DDL
    )


def _run(spark, t, op: str, rows: int = ROWS) -> None:
    if op == "delete":
        t.delete_where("k BETWEEN 100 AND 109")
    elif op == "update":
        t.update_where({"v": "concat(v, '!')"}, "k BETWEEN 100 AND 109")
    else:
        t.merge(_merge_source(spark, rows), ["k"])


def test_mor_delete_of_few_rows_runs_one_job(spark, lake, spark_jobs):
    t = _table(spark, lake, "del", MOR)
    _, jobs = spark_jobs(lambda: t.delete_where("k BETWEEN 100 AND 109"))
    assert jobs == 1, f"merge-on-read DELETE of 10 rows ran {jobs} Spark jobs"
    tombstones = [fi for fi in t.log.state_at().values() if fi.content == 1]
    assert [fi.row_count for fi in tombstones] == [10]
    assert t.read().count() == ROWS - 10


def test_merge_from_held_rows_checks_and_counts_without_jobs(
    spark, lake, spark_jobs
):
    t = _table(spark, lake, "merge")
    src = _merge_source(spark)
    _, jobs = spark_jobs(lambda: t._check_merge_cardinality(src, ["k"]))
    assert jobs == 0, f"cardinality check ran {jobs} Spark jobs"
    n, jobs = spark_jobs(lambda: t._source_rows(src))
    assert (n, jobs) == (20, 0)
    t.merge(src, ["k"])
    want = {k: str(k % 7) for k in range(ROWS)}
    want.update({k: f"m{k}" for k in range(ROWS - 10, ROWS + 10)})
    assert _values(t) == sorted(want.items())
    # duplicate keys in a driver-held source that hit the target still
    # fall through to the target scan and raise
    dup = local_df(spark, [(5, "a"), (5, "b")], DDL)
    with pytest.raises(ValueError, match="duplicate"):
        t.merge(dup, ["k"])


@pytest.mark.parametrize("op", ["delete", "update", "merge"])
def test_large_match_takes_distributed_path_with_same_result(
    spark, lake, monkeypatch, op
):
    """With the cap lowered under the match size, the merge-on-read op
    gives `_write_pos_deletes` no rows in hand, so it runs the
    distributed tombstone writer, and must commit exactly the table the
    driver path commits."""
    calls = []
    real = table_mod.LakehouseTable._write_pos_deletes

    def spy(self, matches, rows=None):
        calls.append((self.identifier, rows is None))
        return real(self, matches, rows)

    monkeypatch.setattr(table_mod.LakehouseTable, "_write_pos_deletes", spy)

    local = _table(spark, lake, f"{op}_local", MOR)
    _run(spark, local, op)
    assert calls == [(local.identifier, False)]
    distributed = _table(spark, lake, f"{op}_dist", MOR)
    with monkeypatch.context() as m:
        m.setattr(localrows, "WRITE_MAX", 5)
        _run(spark, distributed, op)
    assert calls[1:] == [(distributed.identifier, True)]
    assert _values(distributed) == _values(local)


@pytest.mark.parametrize("op", ["delete", "update", "merge"])
def test_cow_rewrite_within_write_cap_skips_spark_writer(
    spark, lake, monkeypatch, spark_jobs, op
):
    """A copy-on-write op on a one-file table of `COW_ROWS` rows, more
    than SQL VALUES text carries, collects the rewrite once and writes
    it with pyarrow: fewer jobs than the Spark writer it takes with
    `WRITE_MAX` lowered under the file's rows, and the same table."""
    driver = _table(spark, lake, f"{op}_cow_driver", rows=COW_ROWS)
    _, driver_jobs = spark_jobs(lambda: _run(spark, driver, op, COW_ROWS))
    spark_writer = _table(spark, lake, f"{op}_cow_spark", rows=COW_ROWS)
    with monkeypatch.context() as m:
        m.setattr(localrows, "WRITE_MAX", 5)
        _, writer_jobs = spark_jobs(lambda: _run(spark, spark_writer, op, COW_ROWS))
    assert driver_jobs < writer_jobs, (driver_jobs, writer_jobs)
    assert _values(driver) == _values(spark_writer)
