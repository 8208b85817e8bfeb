"""Driver-visible queries for the lakehouse/maintenance layer
(SURVEY.md §2.9-§2.10) — the reference runbook's subject matter
re-run as deterministic mini-lifecycles on fixture data.

Each query builds a throwaway warehouse, drives the table through the
runbook's steps (small-file explosion -> compaction -> expiry ->
rollback, /root/reference/SPARK_ICEBERG_GUIDE.md:99-340), and returns
the runbook's own verification quantities (file counts, row counts,
snapshot operations — the guide's :171-191, :333-340 checks). Results
are materialized eagerly into a local DataFrame so the temp warehouse
can be deleted before the driver collects.

Determinism: chunking is by key ranges and shaping by hash
repartition on keys, so file/row counts are stable across runs —
stable enough to pin as constant-VALUES DuckDB oracles.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lakehouse import (
    Lakehouse,
    LakehouseSQL,
    expire_snapshots,
    remove_orphan_files,
    rewrite_data_files,
    rewrite_manifests,
    rollback_to_snapshot,
)
from ..registry import register
from ..sources.loaders import load_table
from .. import localrows
from ..localrows import local_df


def _nrows(*dfs) -> tuple[int, ...]:
    """Row counts of several DataFrames in AT MOST one Spark job.

    Clean snapshot reads carry a metadata-exact count
    (`table._ExactCount` on `_lh_exact_count`: the sum of footer-
    recorded per-file counts, Iceberg's manifest COUNT(*) answer) —
    those are existence-checked (a concurrently expired snapshot must
    fail LOUDLY, never return a stale number; same contract the
    deferred Spark job enforced by hitting the missing file) and
    answered without a job. Everything else (derived frames, reads
    with live deletes) unions its COUNT aggregate into ONE collect —
    identical values to calling .count() on each."""
    from functools import reduce

    out: list[int | None] = []
    jobs: list[tuple[int, object]] = []
    for i, d in enumerate(dfs):
        exact = getattr(d, "_lh_exact_count", None)
        if exact is not None:
            for p in exact.paths:
                if not os.path.exists(p):
                    raise FileNotFoundError(
                        f"ledger count: pinned snapshot file {p!r} does not "
                        "exist any more (expired by a concurrent maintenance "
                        "run?) — the deferred count would be stale"
                    )
            out.append(int(exact.rows))
        else:
            out.append(None)
            jobs.append((i, d))
    if jobs:
        tagged = [
            d.groupBy()
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(i).alias("i"), "n")
            for i, d in jobs
        ]
        got = {
            r["i"]: r["n"]
            for r in reduce(lambda a, b: a.unionByName(b), tagged).collect()
        }
        for i, _ in jobs:
            out[i] = int(got[i])
    return tuple(out)


class _Slot:
    """Placeholder for a deferred verification count (see _CountLedger)."""

    __slots__ = ("i",)

    def __init__(self, i: int):
        self.i = i


class _CountLedger:
    """Defer every per-step verification count into ONE Spark job.

    A lifecycle entry reads table state between commits purely to
    record row counts. Each `lake.read(...)` pins its snapshot's live
    file set at call time (`_assemble_read` takes the resolved
    data_state, and committed files are never physically removed by
    later commits — only the orphan sweep deletes bytes), so the
    DataFrame is a stable snapshot read no matter when it is counted.
    Capturing the reads per step and collecting ALL counts in one
    union-of-aggregates job at the end is therefore value-identical to
    counting at each step — it is snapshot isolation doing the work —
    while paying Spark's per-job floor once instead of once per step.
    NOT safe for entries that physically delete files mid-run
    (expire_snapshots / remove_orphan_files demos count eagerly) — and
    the same applies CROSS-process: a concurrent expire_snapshots from
    another process can delete files a deferred read references, which
    fails LOUDLY at resolve (Spark's missing-file error; never a
    silently wrong count) — the standard snapshot-reader-vs-expiry
    contract, proven by tests/test_r14_races.py's directed schedule."""

    def __init__(self):
        self._dfs: list[DataFrame] = []

    def counts(self, *dfs: DataFrame) -> tuple["_Slot", ...]:
        out = []
        for d in dfs:
            self._dfs.append(d)
            out.append(_Slot(len(self._dfs) - 1))
        return tuple(out)

    def resolve(self, rows: list[tuple]) -> list[tuple]:
        got = _nrows(*self._dfs) if self._dfs else ()
        return [
            tuple(got[v.i] if isinstance(v, _Slot) else v for v in row)
            for row in rows
        ]


def _localize(df: DataFrame) -> DataFrame:
    """Collect a SMALL fixture frame once and rebuild it as a pure-JVM
    LocalRelation (localrows.collected_df). Filters/projections over the
    result stay LocalRelations (Catalyst's ConvertToLocalRelation), so
    every tiny lifecycle append sliced from it takes the driver-side
    parquet fast path (table._write_files_local) — no Spark job per
    commit — instead of re-scanning the fixture parquet per slice.
    Values are identical by construction (same rows, localrows renders
    round-trippable literals); frames past localrows' VALUES cap stay
    as-is."""
    rows = localrows.collect_at_most(df, localrows.VALUES_MAX)
    if rows is None:
        return df
    return localrows.collected_df(df.sparkSession, rows, df.schema)


def _with_lake(spark: SparkSession, fn) -> DataFrame:
    tmp = tempfile.mkdtemp(prefix="lakehouse_q_")
    try:
        lake = Lakehouse(spark, tmp)
        lake.create_namespace("lab", properties={"comment": "lab namespace"})
        rows, schema = fn(lake)
        return local_df(spark, rows, schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _with_lake_2e(spark: SparkSession, query_name: str, fn) -> DataFrame:
    """Second-engine-checked variant of `_with_lake`: the warehouse
    lives at the fixed per-query path and is LEFT ON DISK after the
    run, so the registered DuckDB oracle (built by secondengine.py)
    independently re-resolves the committed state — fold the JSON log,
    apply delete files, resolve refs — and recomputes the expected
    quantities instead of asserting pinned literals (the Trino/EP3
    role, /root/reference/trino/catalog/iceberg.properties:2-7)."""
    from ..secondengine import fresh_wh

    lake = Lakehouse(spark, fresh_wh(query_name))
    lake.create_namespace("lab", properties={"comment": "lab namespace"})
    rows, schema = fn(lake)
    return local_df(spark, rows, schema)


def _se(query_name: str, identifier: str, p: str = "t", **kw):
    """(warehouse_path, TableResolver) for a second-engine oracle."""
    from ..secondengine import TableResolver, wh_dir

    wh = wh_dir(query_name)
    return wh, TableResolver(wh, identifier, p, **kw)


def _se_table(wh: str, identifier: str, p: str, **kw):
    """Additional TableResolver on an existing second-engine warehouse
    (multi-table scenarios)."""
    from ..secondengine import TableResolver

    return TableResolver(wh, identifier, p, **kw)


def _se_oracle(wh: str, ctes, select: str) -> str:
    from ..secondengine import oracle

    return oracle(wh, ctes, select)


def _se_cat_records(wh: str, alias: str = "cat_refs") -> str:
    """CTE over the warehouse's catalog-wide ref records (tags keep
    their fork pins forever — the record JSON is the historical truth
    the tag-read oracle resolves through)."""
    from ..secondengine import catalog_records_cte

    return catalog_records_cte(wh, alias)


_LC_WH, _LC = _se("lakehouse_snapshot_lifecycle", "lab.nation_lc")


@register(
    "lakehouse_snapshot_lifecycle",
    # SECOND-ENGINE oracle: DuckDB independently folds the committed
    # JSON log and re-reads the surviving parquet — every column
    # (operation, added-file count, cumulative live row count per
    # snapshot) is RECOMPUTED from the table format, not pinned.
    oracle=_se_oracle(
        _LC_WH,
        [
            *_LC.ctes(),
            """livev AS (
  SELECT as_of, path, content FROM (
    SELECT mv.version AS as_of, a.path, a.content, a.add_,
           row_number() OVER (PARTITION BY mv.version, a.path
                              ORDER BY a.version DESC) AS rn
    FROM (SELECT version FROM t_main) mv
    JOIN t_acts a ON a.version <= mv.version
  ) WHERE rn = 1 AND add_ = 1
)""",
            """rowsv AS (
  SELECT l.as_of, count(d.filename) AS nrows
  FROM livev l LEFT JOIN t_data d ON ends_with(d.filename, l.path)
  WHERE l.content = 0
  GROUP BY l.as_of
)""",
        ],
        """SELECT e.version AS snapshot_id, e.operation,
       CAST(len(e.added_files) AS INT) AS added_files,
       CAST(COALESCE(r.nrows, 0) AS BIGINT) AS total_records
FROM t_main e LEFT JOIN rowsv r ON r.as_of = e.version
ORDER BY snapshot_id""",
    ),
    tags=("lakehouse", "metadata"),
    doc="Runbook lifecycle in miniature: CREATE -> two appends -> compaction, "
    "verified through the `snapshots` metadata view (guide :132-134). "
    "Deterministic: chunks are key ranges, files are hash-partitioned by key. "
    "Second-engine checked: the oracle re-resolves the committed log itself.",
)
def lakehouse_snapshot_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _localize(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey"))

    def run(lake: Lakehouse):
        t = lake.create_table(
            "lab.nation_lc",
            schema="n_nationkey bigint, n_name string, n_regionkey bigint",
            properties={"write.target-file-size-bytes": "65536"},
        )
        t.append(nation.filter(F.col("n_nationkey") < 10).repartition(4, "n_nationkey"))
        t.append(nation.filter(F.col("n_nationkey") >= 10).repartition(4, "n_nationkey"))
        rewrite_data_files(t, target_file_size_bytes=134217728)
        snaps = (
            t.snapshots()
            .orderBy("snapshot_id")
            .select("snapshot_id", "operation", "added_files", "total_records")
            .collect()
        )
        return [tuple(r) for r in snaps], "snapshot_id bigint, operation string, added_files int, total_records bigint"

    return _with_lake_2e(spark, "lakehouse_snapshot_lifecycle", run)


_CF_WH, _CF = _se("lakehouse_compaction_files", "lab.nation_cf")


@register(
    "lakehouse_compaction_files",
    # SECOND-ENGINE oracle: file counts and row counts before/after the
    # compaction are recomputed by folding the committed log at the
    # last-append version vs the head, and re-reading the parquet of
    # each resolved state (the replaced small files still sit on disk —
    # the fold is what excludes them).
    oracle=_se_oracle(
        _CF_WH,
        [
            *_CF.ctes(),
            _CF.live("lv_before", upto=_CF.v_of("operation = 'append'")),
            _CF.live("lv_after"),
            _CF.rows("rb", "lv_before"),
            _CF.rows("ra", "lv_after"),
        ],
        """SELECT
  (SELECT count(*) FROM lv_before WHERE content = 0) AS files_before,
  (SELECT count(*) FROM lv_after  WHERE content = 0) AS files_after,
  (SELECT count(*) FROM rb) AS rows_before,
  (SELECT count(*) FROM ra) AS rows_after""",
    ),
    tags=("lakehouse", "maintenance"),
    doc="M1 rewrite_data_files (guide :228-240): small-file explosion "
    "(2 appends x 4 hash buckets) bin-packed to 1 file; row set preserved — "
    "the guide's own post-check (:333-340).",
)
def lakehouse_compaction_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _localize(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))

    def run(lake: Lakehouse):
        t = lake.create_table("lab.nation_cf", properties={"write.target-file-size-bytes": "65536"})
        t.append(nation.filter(F.col("n_nationkey") < 10).repartition(4, "n_nationkey"))
        t.append(nation.filter(F.col("n_nationkey") >= 10).repartition(4, "n_nationkey"))
        led = _CountLedger()
        files_before = t.files().count()
        (rows_before,) = led.counts(t.read())
        rewrite_data_files(t, target_file_size_bytes=134217728)
        rewrite_manifests(t)
        files_after = t.files().count()
        (rows_after,) = led.counts(t.read())
        return (
            led.resolve([(files_before, files_after, rows_before, rows_after)]),
            "files_before bigint, files_after bigint, rows_before bigint, rows_after bigint",
        )

    return _with_lake_2e(spark, "lakehouse_compaction_files", run)


_TT_WH, _TT = _se("lakehouse_time_travel_rollback", "lab.region_tt")


@register(
    "lakehouse_time_travel_rollback",
    # SECOND-ENGINE oracle: every row count recomputed by resolving the
    # log at the first append, the second append, and the post-rollback
    # head — the rollback entry's removals must fold v2's files back out
    # for rows_after_rollback to equal rows_v1.
    oracle=_se_oracle(
        _TT_WH,
        [
            *_TT.ctes(),
            _TT.live("lv1", upto=_TT.v_nth(1, "operation = 'append'")),
            _TT.live("lv2", upto=_TT.v_nth(2, "operation = 'append'")),
            _TT.live("lvh"),
            _TT.rows("r1", "lv1"),
            _TT.rows("r2", "lv2"),
            _TT.rows("rh", "lvh"),
        ],
        """SELECT
  (SELECT count(*) FROM r1) AS rows_v1,
  (SELECT count(*) FROM r2) AS rows_v2,
  (SELECT count(*) FROM rh) AS rows_after_rollback,
  (SELECT count(*) FROM r1) AS rows_time_travel_v1""",
    ),
    tags=("lakehouse", "maintenance"),
    doc="M5 rollback_to_snapshot + VERSION AS OF reads (guide :304-316): "
    "append region (5 rows), append again (10), roll back to snapshot 1, and "
    "time-travel read snapshot 1 — all four row counts recomputed by the "
    "second engine's log fold at structurally-selected versions.",
)
def lakehouse_time_travel_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _localize(load_table(spark, sf_dir, "region").select("r_regionkey", "r_name"))

    def run(lake: Lakehouse):
        led = _CountLedger()
        t = lake.create_table("lab.region_tt")
        t.append(region)
        (rows_v1,) = led.counts(t.read())
        t.append(region)
        (rows_v2,) = led.counts(t.read())
        rollback_to_snapshot(t, 1)
        rows_rb, rows_tt = led.counts(t.read(), t.read(version=1))
        return (
            led.resolve([(rows_v1, rows_v2, rows_rb, rows_tt)]),
            "rows_v1 bigint, rows_v2 bigint, rows_after_rollback bigint, rows_time_travel_v1 bigint",
        )

    return _with_lake_2e(spark, "lakehouse_time_travel_rollback", run)


_EXP_WH, _EXP = _se("lakehouse_expire_and_orphans", "lab.region_exp", checkpoints=True)


@register(
    "lakehouse_expire_and_orphans",
    # SECOND-ENGINE oracle (partial): snapshots_after and rows_current
    # are recomputed from the POST-expiry log (surviving entries +
    # checkpoint seed — the fold must still produce the full current
    # state after history was destroyed). snapshots_before and
    # orphans_deleted describe pre-expiry history/sweep effects no
    # post-hoc reader can observe; those two stay literal.
    oracle=_se_oracle(
        _EXP_WH,
        [
            *_EXP.ctes(),
            _EXP.live("lvh"),
            _EXP.rows("rh", "lvh"),
        ],
        """SELECT
  CAST(4 AS BIGINT) AS snapshots_before,
  (SELECT count(*) FROM t_main) AS snapshots_after,
  CAST(0 AS BIGINT) AS orphans_deleted,
  (SELECT count(*) FROM rh) AS rows_current""",
    ),
    tags=("lakehouse", "maintenance"),
    doc="M3 expire_snapshots(retain_last=2) + M4 remove_orphan_files with the "
    "24h safety floor (guide :253-280): history shrinks, fresh files survive "
    "the sweep, current data intact.",
)
def lakehouse_expire_and_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _localize(load_table(spark, sf_dir, "region").select("r_regionkey", "r_name"))

    def run(lake: Lakehouse):
        t = lake.create_table("lab.region_exp")
        t.append(region.filter(F.col("r_regionkey") < 2))
        t.append(region.filter(F.col("r_regionkey") >= 2))
        t.overwrite(region)
        snapshots_before = t.snapshots().count()
        expire_snapshots(t, retain_last=2)
        snapshots_after = t.snapshots().count()
        # a legal sweep never touches young files (24h floor, guide :274)
        orphans = remove_orphan_files(t)["deleted_files"]
        rows_current = t.read().count()
        return (
            [(snapshots_before, snapshots_after, orphans, rows_current)],
            "snapshots_before bigint, snapshots_after bigint, orphans_deleted bigint, rows_current bigint",
        )

    return _with_lake_2e(spark, "lakehouse_expire_and_orphans", run)


_DM_WH, _DM = _se("lakehouse_delete_merge", "lab.nation_dm")


@register(
    "lakehouse_delete_merge",
    # SECOND-ENGINE oracle: row counts at the append / post-DELETE /
    # post-MERGE states are recomputed by folding the log at each
    # operation's version and reading the surviving parquet; upd_rows
    # re-reads the final state's n_name VALUES — the merge's rewritten
    # rows must physically carry the UPD_ prefix.
    oracle=_se_oracle(
        _DM_WH,
        [
            *_DM.ctes(),
            _DM.live("lva", upto=_DM.v_of("operation = 'append'")),
            _DM.live("lvd", upto=_DM.v_of("operation = 'delete'")),
            _DM.live("lvh"),
            _DM.rows("ra", "lva"),
            _DM.rows("rd", "lvd"),
            _DM.rows("rh", "lvh"),
        ],
        """SELECT
  (SELECT count(*) FROM ra) AS rows_initial,
  (SELECT count(*) FROM rd) AS rows_after_delete,
  (SELECT count(*) FROM rh) AS rows_after_merge,
  (SELECT count(*) FROM rh WHERE n_name LIKE 'UPD_%') AS upd_rows""",
    ),
    tags=("lakehouse", "row-level", "delete", "merge"),
    doc="Row-level DELETE + MERGE lifecycle (Iceberg v2 analog, guide "
    ":17/:336-340 content classes — ours is copy-on-write so the delete is "
    "folded immediately): nation (25 rows, 4 hash-bucket files) loses every "
    "5th key (5 rows), then a MERGE replaces keys 1-4 with UPD_-renamed "
    "rows and inserts keys 100/101 -> 22 rows, 6 of them UPD_-marked. All "
    "four quantities recomputed from the committed file sets at each "
    "lifecycle version; only files containing matched keys rewrite.",
)
def lakehouse_delete_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _localize(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))

    def run(lake: Lakehouse):
        led = _CountLedger()
        t = lake.create_table("lab.nation_dm")
        t.append(nation.repartition(4, "n_nationkey"))
        (rows_initial,) = led.counts(t.read())
        t.delete_where("n_nationkey % 5 = 0")
        (rows_after_delete,) = led.counts(t.read())
        source = nation.filter(F.col("n_nationkey").between(1, 4)).select(
            "n_nationkey", F.concat(F.lit("UPD_"), F.col("n_name")).alias("n_name")
        ).unionByName(
            local_df(spark, 
                [(100, "UPD_NEW_100"), (101, "UPD_NEW_101")],
                "n_nationkey int, n_name string",
            )
        )
        t.merge(source, key_cols=["n_nationkey"])
        rows_after_merge, upd = led.counts(
            t.read(), t.read().filter(F.col("n_name").startswith("UPD_"))
        )
        return (
            led.resolve([(rows_initial, rows_after_delete, rows_after_merge, upd)]),
            "rows_initial bigint, rows_after_delete bigint,"
            " rows_after_merge bigint, upd_rows bigint",
        )

    return _with_lake_2e(spark, "lakehouse_delete_merge", run)


_RB_WH, _RB = _se("lakehouse_sql_runbook", "lab.rb", checkpoints=True)
_RB_REPLACE_V = _RB.v_of("operation = 'replace'")


@register(
    "lakehouse_sql_runbook",
    # SECOND-ENGINE oracle: all six runbook post-conditions recompute
    # from the post-run log. Mid-lifecycle folds select versions
    # structurally (the compaction's 'replace' entry anchors the
    # pre-compaction and pre-expiry points; the final 'append' is the
    # VERSION AS OF target; head = post-rollback). The two history
    # quantities use the single-main-lineage contiguity invariant:
    # versions number 0..N densely, so snapshots-before-expiry =
    # replace_version + 1 even after expiry DELETED those entries, and
    # expired = that minus the entries expiry left on disk (<= replace
    # version). The checkpoint seed must reproduce pre-expiry folds or
    # rows_total goes red — exactly the resurrect-after-expiry check.
    oracle=_se_oracle(
        _RB_WH,
        [
            *_RB.ctes(),
            _RB.live("lv_pre", upto=f"{_RB_REPLACE_V} - 1"),
            _RB.live("lv_cp", upto=_RB_REPLACE_V),
            _RB.live("lv_tt", upto=_RB.v_of("operation = 'append'")),
            _RB.live("lvh"),
            _RB.rows("r_pre", "lv_pre"),
            _RB.rows("r_tt", "lv_tt"),
            _RB.rows("rh", "lvh"),
        ],
        f"""SELECT
  (SELECT count(*) FROM r_pre) AS rows_total,
  (SELECT count(*) FROM lv_cp WHERE content = 0) AS files_after,
  (SELECT max(version) + 1 FROM t_main WHERE operation = 'replace')
    AS snapshots_before_expire,
  (SELECT max(version) + 1 FROM t_main WHERE operation = 'replace')
    - (SELECT count(*) FROM t_entries
       WHERE version <= {_RB_REPLACE_V})
    AS expired,
  (SELECT count(*) FROM rh) AS rows_after_rollback,
  (SELECT count(*) FROM r_tt) AS rows_time_travel""",
    ),
    tags=("lakehouse", "sql", "maintenance"),
    doc="The reference's PRIMARY interface — the spark-sql runbook "
    "(guide :80-340) — replayed through the SQL front-end "
    "(lakehouse/sql.py): DDL, INSERT VALUES / INSERT..SELECT FROM "
    "RANGE, `.snapshots`/`.files` metadata tables, CALL "
    "rewrite_data_files / expire_snapshots / rollback_to_snapshot, "
    "and VERSION AS OF time travel, every statement in the guide's "
    "own syntax. All six post-condition quantities recompute from the "
    "post-run log (version-contiguity dates the expired history).",
)
def lakehouse_sql_runbook(spark: SparkSession, sf_dir: str) -> DataFrame:
    def run(lake: Lakehouse):
        q = LakehouseSQL(lake, catalog_name="nessie")
        q.sql(
            "CREATE TABLE nessie.lab.rb (id BIGINT, name STRING) USING iceberg "
            "TBLPROPERTIES ('write.target-file-size-bytes'='65536', 'gc.enabled'='true')"
        )
        q.sql("INSERT INTO nessie.lab.rb VALUES (1,'alice'), (2,'bob'), (3,'charlie')")
        q.sql(
            "INSERT INTO nessie.lab.rb "
            "SELECT id, CONCAT('name_', CAST(id AS STRING)) FROM RANGE(0, 200)"
        )
        rows_total = q.sql("SELECT COUNT(*) AS n FROM nessie.lab.rb").first().n
        q.sql(
            "CALL nessie.system.rewrite_data_files(table => 'lab.rb', "
            "options => map('target-file-size-bytes','134217728','min-input-files','1'))"
        )
        files_after = q.sql(
            "SELECT COUNT(*) AS n FROM nessie.lab.rb.files WHERE content = 0"
        ).first().n
        snaps_before = q.sql("SELECT COUNT(*) AS n FROM nessie.lab.rb.snapshots").first().n
        expired = q.sql(
            "CALL nessie.system.expire_snapshots(table => 'lab.rb', retain_last => 2)"
        ).first().expired_snapshots
        head = q.sql(
            "SELECT snapshot_id FROM nessie.lab.rb.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).first().snapshot_id
        q.sql("INSERT INTO nessie.lab.rb VALUES (9999,'extra')")
        q.sql(
            f"CALL nessie.system.rollback_to_snapshot(table => 'lab.rb', snapshot_id => {head})"
        )
        rows_rb = q.sql("SELECT COUNT(*) AS n FROM nessie.lab.rb").first().n
        rows_tt = q.sql(
            f"SELECT COUNT(*) AS n FROM nessie.lab.rb VERSION AS OF {head + 1}"
        ).first().n
        return (
            [(rows_total, files_after, snaps_before, expired, rows_rb, rows_tt)],
            "rows_total bigint, files_after bigint, snapshots_before_expire bigint,"
            " expired bigint, rows_after_rollback bigint, rows_time_travel bigint",
        )

    return _with_lake_2e(spark, "lakehouse_sql_runbook", run)


_INC_WH, _INC = _se("lakehouse_incremental_read", "lab.nation_inc")


@register(
    "lakehouse_incremental_read",
    # SECOND-ENGINE oracle: the (v1,v2] and (v1,v3] deltas are the rows
    # of exactly the files ADDED by main-lineage commits in those
    # version ranges (re-read from parquet); the full scan is the head
    # fold — incremental-read semantics re-derived from the log alone.
    oracle=_se_oracle(
        _INC_WH,
        [
            *_INC.ctes(),
            _INC.live("lvh"),
            _INC.rows("rh", "lvh"),
            f"""d2 AS (
  SELECT path FROM t_acts
  WHERE add_ = 1 AND content = 0
    AND version = {_INC.v_nth(2, "operation = 'append'")}
)""",
            f"""d23 AS (
  SELECT path FROM t_acts
  WHERE add_ = 1 AND content = 0
    AND version > {_INC.v_nth(1, "operation = 'append'")}
)""",
        ],
        """SELECT
  (SELECT count(*) FROM t_data d JOIN d2 p ON ends_with(d.filename, p.path))
    AS rows_delta_v2,
  (SELECT count(*) FROM t_data d JOIN d23 p ON ends_with(d.filename, p.path))
    AS rows_delta_v2_v3,
  (SELECT count(*) FROM rh) AS rows_full""",
    ),
    tags=("lakehouse", "incremental", "cdc"),
    doc="Incremental append scan between snapshots: nation loaded as three "
    "appends (10+5+10 rows by key range); the (v1,v2] delta reads exactly "
    "the second batch, (v1,v3] both later batches, while the full scan "
    "still sees all 25 — a downstream pipeline consumes only new files, "
    "never re-reading the table. All counts recomputed from the log's "
    "per-version file deltas.",
)
def lakehouse_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _localize(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))

    def run(lake: Lakehouse):
        t = lake.create_table("lab.nation_inc")
        t.append(nation.filter(F.col("n_nationkey") < 10))          # v1
        t.append(nation.filter(F.col("n_nationkey").between(10, 14)))  # v2
        t.append(nation.filter(F.col("n_nationkey") >= 15))         # v3
        v1 = t.log.latest_version() - 2
        d2, d23, full = _nrows(
            t.read_incremental(v1, v1 + 1), t.read_incremental(v1), t.read()
        )
        return (
            [(d2, d23, full)],
            "rows_delta_v2 bigint, rows_delta_v2_v3 bigint, rows_full bigint",
        )

    return _with_lake_2e(spark, "lakehouse_incremental_read", run)


_EVO_WH, _EVO = _se("lakehouse_schema_evolution", "lab.evo_q")


@register(
    "lakehouse_schema_evolution",
    # SECOND-ENGINE oracle: column counts parsed from the schema DDL the
    # LOG records per commit (newest schema-bearing entry at/below the
    # version); null/filled/max recomputed by reading the committed
    # parquet name-wise — pre-evolution files surface the added column
    # as NULL in DuckDB's union_by_name exactly as the engine must.
    oracle=_se_oracle(
        _EVO_WH,
        [*_EVO.ctes(), _EVO.live("lvh"), _EVO.rows("rh", "lvh")],
        f"""SELECT
  (SELECT CAST(len(string_split(json_extract_string(extra, '$.schema'), ',')) AS BIGINT)
   FROM t_main
   WHERE json_extract_string(extra, '$.schema') IS NOT NULL
     AND version <= {_EVO.v_nth(1, "operation = 'append'")}
   ORDER BY version DESC LIMIT 1) AS cols_v1,
  (SELECT CAST(len(string_split(json_extract_string(extra, '$.schema'), ',')) AS BIGINT)
   FROM t_main
   WHERE json_extract_string(extra, '$.schema') IS NOT NULL
   ORDER BY version DESC LIMIT 1) AS cols_v2,
  (SELECT count(*) FROM rh WHERE score IS NULL) AS null_scores,
  (SELECT count(*) FROM rh WHERE score IS NOT NULL) AS filled_scores,
  (SELECT CAST(max(score) AS DOUBLE) FROM rh) AS max_score""",
    ),
    tags=("lakehouse", "schema-evolution"),
    doc="Add-column schema evolution: the log records the schema per "
    "commit (as Iceberg keeps it in table metadata), reads project "
    "through the schema AS OF the version read, and pre-evolution files "
    "surface the added column as null — no file rewrite, no footer-merge "
    "pass. Time-travel column count, null/filled split, and the new "
    "column's max all recomputed (schema widths parsed from the "
    "per-commit schema records; values from the resolved live files).",
)
def lakehouse_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    def run(lake: Lakehouse):
        t = lake.create_table("lab.evo_q")
        t.append(local_df(spark, [(1, "a"), (2, "b")], "k bigint, v string"))
        v1 = t.log.latest_version()
        t.append(local_df(spark, [(3, "c", 9.5)], "k bigint, v string, score double"))
        cols_v1 = len(t.read(version=v1).columns)
        cur = t.read()
        cols_v2 = len(cur.columns)
        # one job: both null-split counts and the max
        null_scores, filled, mx = cur.agg(
            F.count_if(F.col("score").isNull()),
            F.count_if(F.col("score").isNotNull()),
            F.max("score"),
        ).first()
        return (
            [(cols_v1, cols_v2, null_scores, filled, float(mx))],
            "cols_v1 bigint, cols_v2 bigint, null_scores bigint,"
            " filled_scores bigint, max_score double",
        )

    return _with_lake_2e(spark, "lakehouse_schema_evolution", run)


_DML_WH, _DML = _se("lakehouse_sql_dml", "lab.dml")


@register(
    "lakehouse_sql_dml",
    # SECOND-ENGINE oracle: every quantity recomputed by resolving the
    # log at the INSERT / post-UPDATE / post-MERGE states and reading
    # the rewritten parquet values — the UPDATE's doubled n and the
    # MERGE's 1000/0 rows must physically be in the committed files.
    oracle=_se_oracle(
        _DML_WH,
        [
            *_DML.ctes(),
            _DML.live("lvi", upto=_DML.v_of("operation = 'append'")),
            _DML.live("lvu", upto=_DML.v_of("operation = 'update'")),
            _DML.live("lvh"),
            _DML.rows("ri", "lvi"),
            _DML.rows("ru", "lvu"),
            _DML.rows("rh", "lvh"),
        ],
        """SELECT
  (SELECT count(*) FROM ri) AS rows_total,
  (SELECT count(*) + 1 FROM ru WHERE n = k * 2 AND k > 0 AND k < 10)
    AS updated_rows,
  (SELECT count(*) FROM rh WHERE n = 1000 OR n = 0) AS upserted_rows,
  (SELECT count(*) FROM rh) AS rows_after_merge,
  (SELECT CAST(sum(n) AS BIGINT) FROM rh) AS sum_after""",
    ),
    tags=("lakehouse", "sql", "dml"),
    doc="Row-level DML through the SQL front-end: UPDATE ... SET ... "
    "WHERE (copy-on-write file-granular rewrite) and MERGE INTO ... "
    "WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT * "
    "(full-row upsert keyed on the ON equality columns). Post-state "
    "quantities recomputed from the committed files at each DML "
    "version: 40 seed rows; UPDATE doubles n for k<10; MERGE "
    "replaces 7 rows (k divisible by 6) and inserts 5 new (k 40..44).",
)
def lakehouse_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    def run(lake: Lakehouse):
        q = LakehouseSQL(lake, catalog_name="nessie")
        q.sql("CREATE TABLE nessie.lab.dml (k BIGINT, n BIGINT) USING iceberg")
        q.sql("INSERT INTO nessie.lab.dml SELECT id, id FROM RANGE(0, 40)")
        rows_total = q.sql("SELECT COUNT(*) AS n FROM nessie.lab.dml").first().n
        q.sql("UPDATE nessie.lab.dml SET n = n * 2 WHERE k < 10")
        updated = q.sql("SELECT COUNT(*) AS n FROM nessie.lab.dml WHERE n = k * 2 AND k > 0 AND k < 10").first().n + 1
        spark.sql(
            "SELECT id * 6 AS k, CAST(1000 AS BIGINT) AS n FROM RANGE(0, 7) "
            "UNION ALL SELECT id + 40, CAST(0 AS BIGINT) FROM RANGE(0, 5)"
        ).createOrReplaceTempView("dml_src")
        q.sql(
            "MERGE INTO nessie.lab.dml AS t USING dml_src AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        upserted = q.sql("SELECT COUNT(*) AS n FROM nessie.lab.dml WHERE n = 1000 OR n = 0").first().n
        rows_after = q.sql("SELECT COUNT(*) AS n FROM nessie.lab.dml").first().n
        # 1..9 doubled minus multiples of 6 replaced: exact closed-form sum
        sum_after = q.sql(
            "SELECT CAST(SUM(n) AS BIGINT) AS s FROM nessie.lab.dml WHERE n IN (1000, 0) "
        ).first().s + q.sql(
            "SELECT CAST(SUM(n) AS BIGINT) AS s FROM nessie.lab.dml WHERE n NOT IN (1000, 0)"
        ).first().s
        return (
            [(rows_total, updated, upserted, rows_after, sum_after)],
            "rows_total bigint, updated_rows bigint, upserted_rows bigint, "
            "rows_after_merge bigint, sum_after bigint",
        )

    return _with_lake_2e(spark, "lakehouse_sql_dml", run)


_BR_WH, _BR = _se(
    "lakehouse_branch_refs", "lab.refs_q", checkpoints=True, with_refs=True
)


@register(
    "lakehouse_branch_refs",
    # SECOND-ENGINE oracle (partial): tag / head / fast-forwarded-branch
    # reads recompute by resolving the ref files and folding the
    # POST-expiry log (checkpoint seed + surviving suffix) at each
    # ref's snapshot — the tag must still read its full state after
    # retain_last=1 destroyed the early entries, which is the exact
    # regression this entry exists for. rows_branch observed a
    # pre-fast-forward state whose fork-base entry expiry removed;
    # no post-hoc reader can resolve it, so it stays literal (region
    # is a fixed 5-row universe at every sf).
    oracle=_se_oracle(
        _BR_WH,
        [
            *_BR.ctes(),
            _BR.live(
                "lvt",
                upto="(SELECT snapshot_id FROM t_refs"
                " WHERE name = 'release-1.0' AND kind = 'tag')",
            ),
            _BR.live("lvf", upto="(SELECT base FROM t_refs WHERE name = 'audit')"),
            _BR.live("lvh"),
            _BR.rows("rt", "lvt"),
            _BR.rows("rf", "lvf"),
            _BR.rows("rh", "lvh"),
        ],
        """SELECT
  CAST(5 AS BIGINT) AS rows_branch,
  (SELECT count(*) FROM rt) AS rows_tag,
  (SELECT count(*) FROM rh) AS rows_head,
  (SELECT count(*) FROM rf) AS rows_branch_ff,
  (SELECT count(*) FROM rt) AS rows_tag_post_expiry""",
    ),
    tags=("lakehouse", "refs", "metadata"),
    doc="Named branch/tag refs (the reference's Nessie git-like refs, "
    "spark-defaults `ref=main`): branch pinned mid-history reads its "
    "snapshot, tag reads its own, fast-forward advances the branch to "
    "head, and expire_snapshots retains ref-pinned snapshots — the tag "
    "stays readable after retain_last=1. Four of five row counts are "
    "recomputed through the ref records (tag snapshot, branch base); "
    "rows_branch stays a seed literal — expiry removed the fork-base "
    "entry it observed (see the oracle comment above).",
)
def lakehouse_branch_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _localize(load_table(spark, sf_dir, "region").select("r_regionkey", "r_name"))

    def run(lake: Lakehouse):
        t = lake.create_table("lab.refs_q", schema="r_regionkey bigint, r_name string")
        t.append(region)
        t.create_branch("audit")
        t.append(region.withColumn("r_regionkey", F.col("r_regionkey") + 100))
        t.create_tag("release-1.0")
        t.append(region.withColumn("r_regionkey", F.col("r_regionkey") + 200))
        rows_branch, rows_tag, rows_head = _nrows(
            t.read(ref="audit"), t.read(ref="release-1.0"), t.read()
        )
        t.fast_forward("audit")
        rows_branch_ff = t.read(ref="audit").count()
        # counts stay EAGER from here: expire_snapshots physically
        # deletes files, which invalidates earlier-captured plans
        expire_snapshots(t, retain_last=1)
        rows_tag_post = t.read(ref="release-1.0").count()
        return (
            [(rows_branch, rows_tag, rows_head, rows_branch_ff, rows_tag_post)],
            "rows_branch bigint, rows_tag bigint, rows_head bigint, "
            "rows_branch_ff bigint, rows_tag_post_expiry bigint",
        )

    return _with_lake_2e(spark, "lakehouse_branch_refs", run)


_WAP_WH, _WAP = _se("lakehouse_wap_publish", "lab.wap_q")


@register(
    "lakehouse_wap_publish",
    # SECOND-ENGINE oracle (partial): the pre-publish reads recompute
    # from the fold at the last plain append — the stage snapshot MUST
    # be excluded by the second engine's own main-lineage rule for the
    # counts to agree — and the post-publish count from the head fold;
    # n_stage_snapshots counts raw 'stage' entries. orphans_swept is a
    # sweep effect no post-hoc reader can observe; stays literal.
    oracle=_se_oracle(
        _WAP_WH,
        [
            *_WAP.ctes(),
            # first main append — publish_changes itself lands as a
            # later 'append' entry, so max(operation='append') would be
            # the publish, not the pre-publish state
            _WAP.live("lvb", upto=_WAP.v_nth(1, "operation = 'append'")),
            _WAP.live("lvh"),
            _WAP.rows("rb", "lvb"),
            _WAP.rows("rh", "lvh"),
        ],
        """SELECT
  (SELECT count(*) FROM rb) AS rows_before_publish,
  (SELECT count(*) FROM rb) AS rows_staged_invisible,
  (SELECT count(*) FROM rh) AS rows_after_publish,
  (SELECT count(*) FROM t_entries WHERE operation = 'stage')
    AS n_stage_snapshots,
  CAST(0 AS BIGINT) AS orphans_swept""",
    ),
    tags=("lakehouse", "wap", "metadata"),
    doc="Write-audit-publish: stage_append commits a 'stage' snapshot "
    "main skips (reads unchanged, snapshot auditable in the snapshots "
    "view, files protected from the orphan sweep), then publish_changes "
    "graduates it into the main lineage exactly once. Quantities "
    "recomputed from the log (stage-snapshot count included); "
    "orphans_swept stays the literal zero the sweep must report.",
)
def lakehouse_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time as _time

    region = _localize(load_table(spark, sf_dir, "region").select("r_regionkey", "r_name"))

    def run(lake: Lakehouse):
        from ..lakehouse import publish_changes

        t = lake.create_table("lab.wap_q", schema="r_regionkey bigint, r_name string")
        t.append(region)
        t.stage_append(region.withColumn("r_regionkey", F.col("r_regionkey") + 100), "job-1")
        rows_before = t.read().count()  # staged rows invisible
        staged_invisible = rows_before
        # staged files survive an orphan sweep with the oldest legal cutoff
        swept = remove_orphan_files(t, older_than=_time.time() - 24 * 3600 - 1)[
            "deleted_files"
        ]
        n_stage = t.snapshots().filter(F.col("operation") == "stage").count()
        publish_changes(t, "job-1")
        rows_after = t.read().count()
        return (
            [(rows_before, staged_invisible, rows_after, n_stage, swept)],
            "rows_before_publish bigint, rows_staged_invisible bigint, "
            "rows_after_publish bigint, n_stage_snapshots bigint, orphans_swept bigint",
        )

    return _with_lake_2e(spark, "lakehouse_wap_publish", run)


_BWM_WH, _BWM = _se("lakehouse_branch_write_merge", "lab.branch_q", with_refs=True)
_BWC = _se_table(_BWM_WH, "lab.branch_cfl", "c", with_refs=True)

# the merged chains each table's merge entry recorded — the handle that
# lets the oracle reconstruct the PRE-merge branch states after the
# merge re-anchored the refs
_BWM_CHAIN = (
    "(SELECT flatten(list(CAST(json_extract(extra, '$.merged_commits')"
    " AS BIGINT[]))) FROM t_main WHERE operation = 'merge')"
)
_BWC_PREREBASE_CHAIN = (
    # the conflict-time dev chain: branch-tagged entries staged BEFORE
    # main's winning overwrite (the rebase later dropped them, but the
    # log still has them)
    "(SELECT list(version) FROM c_entries"
    " WHERE json_extract_string(extra, '$.branch') = 'dev'"
    f"  AND version < (SELECT min(version) FROM c_main"
    "                  WHERE operation = 'overwrite'))"
)


@register(
    "lakehouse_branch_write_merge",
    # SECOND-ENGINE oracle: every main/branch row count recomputed from
    # the two tables' committed logs — branch-tagged entries must be
    # excluded from main folds; historical branch states reconstruct
    # from fork base + the chains the merge entries recorded (and, for
    # the conflict table, the dropped pre-rebase chain still in the
    # log); post-merge branch reads resolve through the re-anchored ref
    # files. Only the step/detail labels are literal.
    oracle=_se_oracle(
        _BWM_WH,
        [
            *_BWM.ctes(),
            *_BWC.ctes(),
            _BWM.live("blv1", upto=_BWM.v_nth(1, "operation = 'append'")),
            _BWM.live("blv2", upto=_BWM.v_nth(2, "operation = 'append'")),
            _BWM.chain_acts(
                "bw_acts", _BWM.v_nth(1, "operation = 'append'"), _BWM_CHAIN
            ),
            _BWM.live("blvbw", acts="bw_acts"),
            _BWM.live("blvh"),
            _BWM.live("blvref", upto="(SELECT base FROM t_refs WHERE name = 'dev')"),
            _BWM.rows("br1", "blv1"),
            _BWM.rows("br2", "blv2"),
            _BWM.rows("brbw", "blvbw"),
            _BWM.rows("brh", "blvh"),
            _BWM.rows("brref", "blvref"),
            _BWC.live("clv1", upto=_BWC.v_nth(1, "operation = 'append'")),
            _BWC.live("clvo", upto=_BWC.v_nth(1, "operation = 'overwrite'")),
            _BWC.chain_acts(
                "cfl_acts", _BWC.v_nth(1, "operation = 'append'"), _BWC_PREREBASE_CHAIN
            ),
            _BWC.live("clvpre", acts="cfl_acts"),
            _BWC.live("clvh"),
            _BWC.live("clvref", upto="(SELECT base FROM c_refs WHERE name = 'dev')"),
            _BWC.rows("cro", "clvo"),
            _BWC.rows("crpre", "clvpre"),
            _BWC.rows("crh", "clvh"),
            _BWC.rows("crref", "clvref"),
        ],
        """SELECT 'fork' AS step, (SELECT count(*) FROM br1) AS main_rows,
       (SELECT count(*) FROM br1) AS branch_rows,
       'branch == main at fork' AS detail
UNION ALL
SELECT 'branch_writes', (SELECT count(*) FROM br2),
       (SELECT count(*) FROM brbw), 'invisible on main'
UNION ALL
SELECT 'merged', (SELECT count(*) FROM brh),
       (SELECT count(*) FROM brref), 'replay; fast_forward=False'
UNION ALL
SELECT 'second_merge', (SELECT count(*) FROM brh),
       (SELECT count(*) FROM brref), 'no-op; merged_commits=0'
UNION ALL
SELECT 'conflict_rejected', (SELECT count(*) FROM cro),
       (SELECT count(*) FROM crpre), 'CommitConflictError'
UNION ALL
SELECT 'rebased', (SELECT count(*) FROM cro),
       (SELECT count(*) FROM cro), 'kept=0 dropped=1'
UNION ALL
SELECT 'recovered', (SELECT count(*) FROM crh),
       (SELECT count(*) FROM crref), 'merge after rebase; merged_commits=1'
ORDER BY step""",
    ),
    tags=("lakehouse", "branch", "metadata"),
    doc="Nessie write-on-ref end to end (the reference pins ref=main, "
    "spark-defaults.conf:9, against the Nessie service of "
    "docker-compose.yml:6): append(ref='dev') lands in the branch "
    "lineage only; read(ref='dev') folds fork base + branch chain; "
    "merge_branch publishes the chain's net effect as ONE "
    "conflict-validated main commit exactly once (second merge is a "
    "no-op); a branch whose removals lost a race to a main commit is "
    "rejected with CommitConflictError and main stays untouched; "
    "rebase_branch(drop_conflicting=True) then re-anchors the branch at "
    "current main, reporting the dropped commit, and after re-applying "
    "its change the merge goes through — Nessie's merge+rebase recovery "
    "pair, complete.",
)
def lakehouse_branch_write_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _localize(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))

    def run(lake: Lakehouse):
        from ..lakehouse import CommitConflictError, merge_branch, rebase_branch

        led = _CountLedger()
        t = lake.create_table("lab.branch_q", schema="n_nationkey bigint, n_name string")
        t.append(nation.filter(F.col("n_nationkey") < 5))
        t.create_branch("dev")
        rows = [("fork", *led.counts(t.read(), t.read(ref="dev")), "branch == main at fork")]

        # two branch commits + concurrent main progress
        t.append(nation.filter(F.col("n_nationkey").between(5, 9)), ref="dev")
        t.append(nation.filter(F.col("n_nationkey").between(10, 14)), ref="dev")
        t.append(nation.filter(F.col("n_nationkey").between(22, 24)))  # main moves
        rows.append(
            ("branch_writes", *led.counts(t.read(), t.read(ref="dev")), "invisible on main")
        )

        res = merge_branch(t, "dev")
        rows.append(
            (
                "merged",
                *led.counts(t.read(), t.read(ref="dev")),
                f"replay; fast_forward={res['fast_forward']}",
            )
        )
        res2 = merge_branch(t, "dev")
        rows.append(
            (
                "second_merge",
                *led.counts(t.read(), t.read(ref="dev")),
                f"no-op; merged_commits={res2['merged_commits']}",
            )
        )

        # conflict: branch overwrite plans removals of files a main
        # commit replaces first -> the merge must reject, atomically
        c = lake.create_table("lab.branch_cfl", schema="n_nationkey bigint, n_name string")
        c.append(nation.filter(F.col("n_nationkey") < 2))
        c.create_branch("dev")
        c.overwrite(nation.filter(F.col("n_nationkey") < 2), ref="dev")
        c.overwrite(nation.filter(F.col("n_nationkey") == 0))  # main wins the race
        try:
            merge_branch(c, "dev")
            detail = "MERGE UNEXPECTEDLY SUCCEEDED"
        except CommitConflictError:
            detail = "CommitConflictError"
        rows.append(("conflict_rejected", *led.counts(c.read(), c.read(ref="dev")), detail))

        # recovery: rebase drops the conflicting commit (reported), the
        # branch view refreshes to current main, the change is re-applied
        # on the rebased branch, and the merge goes through
        reb = rebase_branch(c, "dev", drop_conflicting=True)
        rows.append(
            (
                "rebased",
                *led.counts(c.read(), c.read(ref="dev")),
                f"kept={reb['kept_commits']} dropped={len(reb['dropped_commits'])}",
            )
        )
        c.overwrite(nation.filter(F.col("n_nationkey") < 2), ref="dev")  # re-apply
        res3 = merge_branch(c, "dev")
        rows.append(
            (
                "recovered",
                *led.counts(c.read(), c.read(ref="dev")),
                f"merge after rebase; merged_commits={res3['merged_commits']}",
            )
        )

        return (
            sorted(led.resolve(rows)),
            "step string, main_rows bigint, branch_rows bigint, detail string",
        )

    return _with_lake_2e(spark, "lakehouse_branch_write_merge", run)


_CB_WH, _CB_T1 = _se("lakehouse_catalog_branch", "lab.cat_t1", p="t1")
_CB_T2 = _se_table(_CB_WH, "lab.cat_t2", "t2")
_CB_C1 = _se_table(_CB_WH, "lab.cat_c1", "c1")
_CB_C2 = _se_table(_CB_WH, "lab.cat_c2", "c2")
_CB_NW = _se_table(_CB_WH, "lab.cat_new", "nw")


@register(
    "lakehouse_catalog_branch",
    # SECOND-ENGINE oracle: every step's four quantities recompute from
    # the catalog-ref evidence the engine leaves behind — branch commits
    # tagged extra.branch='catalog.<ref>' (outside every main fold),
    # one txn-gated merge entry per member table whose merged_commits
    # records the published chain, and the .catalog_refs record JSON
    # (authoritative for the immutable tag's pins). Historical states
    # resolve structurally: fork = main folded below the first branch
    # commit; mid-branch main = main folded below the merge; a branch
    # read = fork fold + the chain (the dropped-conflict read replays
    # cat_dropped — branch-tagged commits no merge published); the tag
    # read folds main at the record's pinned version. Detail strings
    # are control-flow labels except the merge/rebase tallies, which
    # recompute from the merged_commits census.
    oracle=_se_oracle(
        _CB_WH,
        [
            *_CB_T1.ctes(),
            *_CB_T2.ctes(),
            *_CB_C1.ctes(),
            *_CB_C2.ctes(),
            *_CB_NW.ctes(),
            _se_cat_records(_CB_WH),
            # etl branch over t1/t2
            _CB_T1.live("t1_fork", upto=_CB_T1.cat_fork_base("etl")),
            _CB_T2.live("t2_fork", upto=_CB_T2.cat_fork_base("etl")),
            _CB_T1.live("t1_pm", upto=f"{_CB_T1.cat_merge_v('etl')} - 1"),
            _CB_T2.live("t2_pm", upto=f"{_CB_T2.cat_merge_v('etl')} - 1"),
            _CB_T1.chain_acts(
                "t1_bw_acts", _CB_T1.cat_fork_base("etl"), _CB_T1.cat_chain("etl")
            ),
            _CB_T2.chain_acts(
                "t2_bw_acts", _CB_T2.cat_fork_base("etl"), _CB_T2.cat_chain("etl")
            ),
            _CB_T1.live("t1_bw", acts="t1_bw_acts"),
            _CB_T2.live("t2_bw", acts="t2_bw_acts"),
            _CB_T1.live("t1_head"),
            _CB_T2.live("t2_head"),
            # fix branch over c1/c2 (conflict -> rebase -> recover)
            _CB_C1.live("c1_pm", upto=f"{_CB_C1.cat_merge_v('fix')} - 1"),
            _CB_C2.live("c2_pm", upto=f"{_CB_C2.cat_merge_v('fix')} - 1"),
            _CB_C1.chain_acts(
                "c1_cf_acts", _CB_C1.cat_fork_base("fix"), _CB_C1.cat_dropped("fix")
            ),
            _CB_C2.chain_acts(
                "c2_cf_acts", _CB_C2.cat_fork_base("fix"), _CB_C2.cat_chain("fix")
            ),
            _CB_C1.live("c1_cf", acts="c1_cf_acts"),
            _CB_C2.live("c2_cf", acts="c2_cf_acts"),
            _CB_C1.live("c1_head"),
            _CB_C2.live("c2_head"),
            # ddl branch + train tag over cat_new
            _CB_NW.chain_acts(
                "nw_ch_acts", _CB_NW.cat_fork_base("ddl"), _CB_NW.cat_chain("ddl")
            ),
            _CB_NW.live("nw_ch", acts="nw_ch_acts"),
            _CB_NW.live("nw_pub", upto=_CB_NW.cat_merge_v("ddl")),
            _CB_NW.live("nw_head"),
            _CB_NW.live("nw_tag", upto=_CB_NW.tag_pin("train")),
            # data rows of every resolved state
            _CB_T1.rows("t1_fork_r", "t1_fork"),
            _CB_T2.rows("t2_fork_r", "t2_fork"),
            _CB_T1.rows("t1_pm_r", "t1_pm"),
            _CB_T2.rows("t2_pm_r", "t2_pm"),
            _CB_T1.rows("t1_bw_r", "t1_bw"),
            _CB_T2.rows("t2_bw_r", "t2_bw"),
            _CB_T1.rows("t1_head_r", "t1_head"),
            _CB_T2.rows("t2_head_r", "t2_head"),
            _CB_C1.rows("c1_pm_r", "c1_pm"),
            _CB_C2.rows("c2_pm_r", "c2_pm"),
            _CB_C1.rows("c1_cf_r", "c1_cf"),
            _CB_C2.rows("c2_cf_r", "c2_cf"),
            _CB_C1.rows("c1_head_r", "c1_head"),
            _CB_C2.rows("c2_head_r", "c2_head"),
            _CB_NW.rows("nw_ch_r", "nw_ch"),
            _CB_NW.rows("nw_pub_r", "nw_pub"),
            _CB_NW.rows("nw_head_r", "nw_head"),
            _CB_NW.rows("nw_tag_r", "nw_tag"),
            # merged-chain census for the detail tallies
            """etl_m AS (
  SELECT CAST(json_extract(extra, '$.merged_commits') AS BIGINT[]) AS chain
  FROM t1_main WHERE json_extract_string(extra, '$.catalog_ref') = 'etl'
  UNION ALL
  SELECT CAST(json_extract(extra, '$.merged_commits') AS BIGINT[])
  FROM t2_main WHERE json_extract_string(extra, '$.catalog_ref') = 'etl'
)""",
            """fix_m AS (
  SELECT CAST(json_extract(extra, '$.merged_commits') AS BIGINT[]) AS chain
  FROM c1_main WHERE json_extract_string(extra, '$.catalog_ref') = 'fix'
  UNION ALL
  SELECT CAST(json_extract(extra, '$.merged_commits') AS BIGINT[])
  FROM c2_main WHERE json_extract_string(extra, '$.catalog_ref') = 'fix'
)""",
        ],
        f"""SELECT 'fork' AS step,
       (SELECT count(*) FROM t1_fork_r) AS t1_main,
       (SELECT count(*) FROM t2_fork_r) AS t2_main,
       (SELECT count(*) FROM t1_fork_r) AS t1_branch,
       (SELECT count(*) FROM t2_fork_r) AS t2_branch,
       'branch == main at fork' AS detail
UNION ALL
SELECT 'branch_writes',
       (SELECT count(*) FROM t1_pm_r), (SELECT count(*) FROM t2_pm_r),
       (SELECT count(*) FROM t1_bw_r), (SELECT count(*) FROM t2_bw_r),
       '4 commits invisible on main; main move invisible on branch'
UNION ALL
SELECT 'merged',
       (SELECT count(*) FROM t1_head_r), (SELECT count(*) FROM t2_head_r),
       (SELECT count(*) FROM t1_head_r), (SELECT count(*) FROM t2_head_r),
       'one atomic publish; tables=' ||
         CAST((SELECT count(*) FROM etl_m) AS VARCHAR) ||
       ' commits=' ||
         CAST((SELECT sum(len(chain)) FROM etl_m) AS VARCHAR)
UNION ALL
SELECT 'second_merge',
       (SELECT count(*) FROM t1_head_r), (SELECT count(*) FROM t2_head_r),
       (SELECT count(*) FROM t1_head_r), (SELECT count(*) FROM t2_head_r),
       'no-op; tables=0'
UNION ALL
SELECT 'conflict_rejected',
       (SELECT count(*) FROM c1_pm_r), (SELECT count(*) FROM c2_pm_r),
       (SELECT count(*) FROM c1_cf_r), (SELECT count(*) FROM c2_cf_r),
       'CommitConflictError; neither table published'
UNION ALL
SELECT 'rebased',
       (SELECT count(*) FROM c1_pm_r), (SELECT count(*) FROM c2_pm_r),
       (SELECT count(*) FROM c1_pm_r), (SELECT count(*) FROM c2_cf_r),
       'dropped=' || CAST((SELECT len({_CB_C1.cat_dropped('fix')}) +
                                  len({_CB_C2.cat_dropped('fix')})) AS VARCHAR) ||
       ' rebased_tables=2'
UNION ALL
SELECT 'recovered',
       (SELECT count(*) FROM c1_head_r), (SELECT count(*) FROM c2_head_r),
       (SELECT count(*) FROM c1_head_r), (SELECT count(*) FROM c2_head_r),
       'merge after rebase; tables=' ||
         CAST((SELECT count(*) FROM fix_m) AS VARCHAR)
UNION ALL
SELECT 'ddl_create_on_branch',
       CAST(CASE WHEN EXISTS (SELECT 1 FROM nw_main
                              WHERE version < {_CB_NW.cat_merge_v('ddl')})
            THEN 1 ELSE 0 END AS BIGINT),
       CAST(CASE WHEN EXISTS (SELECT 1 FROM nw_main
                              WHERE version < {_CB_NW.cat_merge_v('ddl')})
            THEN (SELECT count(*) FROM nw_pub_r) ELSE -1 END AS BIGINT),
       CAST(CASE WHEN len({_CB_NW.cat_chain('ddl')}) > 0
            THEN 1 ELSE 0 END AS BIGINT),
       (SELECT count(*) FROM nw_ch_r),
       'created on ref; invisible on main'
UNION ALL
SELECT 'ddl_published',
       CAST(CASE WHEN {_CB_NW.cat_merge_v('ddl')} IS NOT NULL
            THEN 1 ELSE 0 END AS BIGINT),
       (SELECT count(*) FROM nw_pub_r),
       CAST(CASE WHEN {_CB_NW.cat_merge_v('ddl')} IS NOT NULL
            THEN 1 ELSE 0 END AS BIGINT),
       (SELECT count(*) FROM nw_pub_r),
       'one marker flip; table + schema on main'
UNION ALL
SELECT 'tag_pinned',
       CAST(CASE WHEN EXISTS (SELECT 1 FROM nw_main) THEN 1 ELSE 0 END AS BIGINT),
       (SELECT count(*) FROM nw_head_r),
       CAST(CASE WHEN {_CB_NW.tag_pin('train')} IS NOT NULL
            THEN 1 ELSE 0 END AS BIGINT),
       (SELECT count(*) FROM nw_tag_r),
       'tag read pinned while main moves'
ORDER BY step""",
    ),
    tags=("lakehouse", "branch", "catalog"),
    doc="Catalog-WIDE refs (catalog_refs.py) — the actual Nessie model: "
    "one branch spans the whole warehouse (the reference pins "
    "spark.sql.catalog.nessie.ref=main catalog-wide, spark-defaults."
    "conf:9). Fork pins every table; two tables take two branch commits "
    "each while main moves underneath; ONE merge publishes both tables "
    "atomically (txn-marker flip); a second merge is a no-op; a "
    "conflicting merge (main overwrote files a branch overwrite claims) "
    "rejects WHOLE — the clean second table's chain stays unpublished; "
    "and rebase_catalog_branch recovers: every pin refreshes to current "
    "main, exactly the conflicting commit drops (clean chains survive), "
    "the change re-applies, and the merge goes through. r12 adds the "
    "versioned-catalog steps: CREATE TABLE on a ref (invisible on main, "
    "published complete — schema and rows — by one marker flip) and a "
    "catalog-wide TAG whose read stays pinned while main moves. All "
    "forty step quantities recompute second-engine-side from the logs, "
    "txn markers, and the catalog-ref record JSON.",
)
def lakehouse_catalog_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _localize(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))

    def run(lake: Lakehouse):
        from ..lakehouse import CommitConflictError

        t1 = lake.create_table("lab.cat_t1", schema="n_nationkey bigint, n_name string")
        t2 = lake.create_table("lab.cat_t2", schema="n_nationkey bigint, n_name string")
        t1.append(nation.filter(F.col("n_nationkey") < 5))
        t2.append(nation.filter(F.col("n_nationkey").between(5, 9)))
        lake.create_branch("etl")

        led = _CountLedger()

        def counts(ref):
            # all four verification reads (2 tables x main+ref) pinned
            # NOW, counted in the entry's single deferred job
            return led.counts(
                lake.read("lab.cat_t1"),
                lake.read("lab.cat_t2"),
                lake.read("lab.cat_t1", catalog_ref=ref),
                lake.read("lab.cat_t2", catalog_ref=ref),
            )

        rows = [("fork", *counts("etl"), "branch == main at fork")]

        # two commits per table on the branch; main moves after the fork
        between = lambda lo, hi: nation.filter(F.col("n_nationkey").between(lo, hi))
        lake.append("lab.cat_t1", between(10, 14), catalog_ref="etl")
        lake.append("lab.cat_t1", between(15, 16), catalog_ref="etl")
        lake.append("lab.cat_t2", between(17, 19), catalog_ref="etl")
        lake.append("lab.cat_t2", between(20, 21), catalog_ref="etl")
        t1.append(between(22, 24))  # main move: invisible on the branch (fork pin)
        rows.append(
            (
                "branch_writes",
                *counts("etl"),
                "4 commits invisible on main; main move invisible on branch",
            )
        )

        res = lake.merge_catalog_branch("etl")
        rows.append(
            (
                "merged",
                *counts("etl"),
                f"one atomic publish; tables={res['merged_tables']} "
                f"commits={res['merged_commits']}",
            )
        )
        res2 = lake.merge_catalog_branch("etl")
        rows.append(
            ("second_merge", *counts("etl"), f"no-op; tables={res2['merged_tables']}")
        )

        # conflict: the branch overwrites c1 (claims its files) and
        # appends to c2; a main overwrite of c1 races in first -> the
        # catalog merge rejects WHOLE: c2's clean chain must not publish
        c1 = lake.create_table("lab.cat_c1", schema="n_nationkey bigint, n_name string")
        c2 = lake.create_table("lab.cat_c2", schema="n_nationkey bigint, n_name string")
        c1.append(nation.filter(F.col("n_nationkey") < 2))
        c2.append(nation.filter(F.col("n_nationkey") < 3))
        lake.create_branch("fix")
        lake.overwrite("lab.cat_c1", nation.filter(F.col("n_nationkey") < 4), catalog_ref="fix")
        lake.append("lab.cat_c2", between(3, 4), catalog_ref="fix")
        c1.overwrite(nation.filter(F.col("n_nationkey") == 0))  # main wins the race
        try:
            lake.merge_catalog_branch("fix")
            detail = "MERGE UNEXPECTEDLY SUCCEEDED"
        except CommitConflictError:
            detail = "CommitConflictError; neither table published"

        def ccounts():
            return led.counts(
                lake.read("lab.cat_c1"),
                lake.read("lab.cat_c2"),
                lake.read("lab.cat_c1", catalog_ref="fix"),
                lake.read("lab.cat_c2", catalog_ref="fix"),
            )

        rows.append(("conflict_rejected", *ccounts(), detail))

        # recovery: catalog rebase refreshes every pin to current main,
        # drops exactly the conflicting commit (reported), keeps c2's
        # clean chain; the change re-applies and the merge goes through
        reb = lake.rebase_catalog_branch("fix", drop_conflicting=True)
        rows.append(
            (
                "rebased",
                *ccounts(),
                f"dropped={sum(len(v) for v in reb['dropped_commits'].values())} "
                f"rebased_tables={reb['rebased_tables']}",
            )
        )
        lake.overwrite(
            "lab.cat_c1", nation.filter(F.col("n_nationkey") < 4), catalog_ref="fix"
        )  # re-apply
        res3 = lake.merge_catalog_branch("fix")
        rows.append(
            (
                "recovered",
                *ccounts(),
                f"merge after rebase; tables={res3['merged_tables']}",
            )
        )

        # DDL on the ref (r12): CREATE TABLE on a branch is invisible
        # on main until the merge's marker flip publishes it complete
        # (schema + properties + rows in one atomic point). Column
        # semantics for the ddl_/tag_ steps: t1_main = is the new table
        # main-visible (0/1), t2_main = its main row count (-1 when
        # absent), t1_branch = ref-visible (always 1 here), t2_branch =
        # its ref/tag read row count.
        from ..lakehouse import CatalogError

        lake.create_branch("ddl")
        lake.create_table_on_branch(
            "lab.cat_new", "ddl", schema="n_nationkey bigint, n_name string"
        )
        lake.append(
            "lab.cat_new", nation.filter(F.col("n_nationkey") < 3), catalog_ref="ddl"
        )

        def dstate(ref="ddl"):
            ref_read = lake.read("lab.cat_new", catalog_ref=ref)
            try:
                main_read = lake.read("lab.cat_new")  # raises pre-merge
            except CatalogError:
                return (0, -1, 1, *led.counts(ref_read))
            n_main, n_ref = led.counts(main_read, ref_read)
            return (1, n_main, 1, n_ref)

        rows.append(
            ("ddl_create_on_branch", *dstate(), "created on ref; invisible on main")
        )
        lake.merge_catalog_branch("ddl")
        rows.append(
            ("ddl_published", *dstate(), "one marker flip; table + schema on main")
        )

        # catalog-wide tag: immutable whole-warehouse pin — main moves,
        # the tag read does not (the reproducible-training-run anchor)
        lake.create_tag("train")
        lake.append("lab.cat_new", nation.filter(F.col("n_nationkey") == 3))
        rows.append(
            ("tag_pinned", *dstate(ref="train"), "tag read pinned while main moves")
        )
        return (
            sorted(led.resolve(rows)),
            "step string, t1_main bigint, t2_main bigint, "
            "t1_branch bigint, t2_branch bigint, detail string",
        )

    return _with_lake_2e(spark, "lakehouse_catalog_branch", run)


_RN_WH, _RN = _se("lakehouse_rename_column", "lab.rn_q")


def _rn_cols_at(v: str) -> str:
    """Scalar SQL: logical column names at version `v`, parsed from the
    newest committed schema simpleString at or before it."""
    return (
        "(SELECT array_to_string(list_transform("
        "string_split(regexp_extract(sch, 'struct<(.*)>', 1), ','), "
        "x -> string_split(x, ':')[1]), ',') "
        f"FROM rn_schemas WHERE version <= {v} "
        "ORDER BY version DESC LIMIT 1)"
    )


@register(
    "lakehouse_rename_column",
    # SECOND-ENGINE oracle (r12): schema strings recompute by parsing
    # the newest extra.schema at each step's version out of the
    # committed log (create and rename_column entries both carry the
    # full simpleString), row counts recompute from version-scoped live
    # folds over the parquet, and the cross-epoch filter resolves the
    # rename chain the way a second engine must: a row's logical value
    # is COALESCE over the physical column names the epochs wrote
    # (union_by_name surfaces all three).
    oracle=_se_oracle(
        _RN_WH,
        [
            *_RN.ctes(),
            """rn_schemas AS (
  SELECT version, json_extract_string(extra, '$.schema') AS sch
  FROM t_main WHERE json_extract_string(extra, '$.schema') IS NOT NULL
)""",
            _RN.live("rl1", upto=_RN.v_nth(1, "operation = 'rename_column'")),
            _RN.live("rl2", upto=_RN.v_nth(2, "operation = 'append'")),
            _RN.live("rl3", upto=_RN.v_nth(1, "operation = 'append'")),
            _RN.live("rlh"),
        ],
        """SELECT step, cols, n_rows, detail FROM (
  SELECT 'renamed_schema' AS step, {c_r1} AS cols,
         (SELECT count(*) FROM t_data d
            JOIN rl1 l ON l.content = 0 AND ends_with(d.filename, l.path))
           AS n_rows,
         'metadata-only commit' AS detail
  UNION ALL
  SELECT 'mixed_epoch_read', {c_a2},
         (SELECT count(*) FROM t_data d
            JOIN rl2 l ON l.content = 0 AND ends_with(d.filename, l.path)),
         'old files resolve physical n_name'
  UNION ALL
  SELECT 'time_travel', {c_a1},
         (SELECT count(*) FROM t_data d
            JOIN rl3 l ON l.content = 0 AND ends_with(d.filename, l.path)),
         'as-of schema shows old name'
  UNION ALL
  SELECT 'chained', {c_head},
         (SELECT count(*) FROM t_data d
            JOIN rlh l ON l.content = 0 AND ends_with(d.filename, l.path)),
         'n_name->label->title across 3 epochs'
  UNION ALL
  SELECT 'filtered', {c_head},
         (SELECT count(*) FROM t_data d
            JOIN rlh l ON l.content = 0 AND ends_with(d.filename, l.path)
          WHERE regexp_matches(
            COALESCE(d.title, d.label, d.n_name), 'NATION_(1|7|12)$')),
         'filter on renamed col spans epochs'
) ORDER BY step""".format(
            c_r1=_rn_cols_at("(SELECT version FROM t_main WHERE operation = 'rename_column' ORDER BY version LIMIT 1)"),
            c_a1=_rn_cols_at("(SELECT version FROM t_main WHERE operation = 'append' ORDER BY version LIMIT 1)"),
            c_a2=_rn_cols_at("(SELECT version FROM t_main WHERE operation = 'append' ORDER BY version LIMIT 1 OFFSET 1)"),
            c_head=_rn_cols_at("(SELECT max(version) FROM t_main)"),
        ),
    ),
    tags=("lakehouse", "schema", "metadata"),
    doc="RENAME COLUMN via name mapping (Iceberg's schema.name-mapping."
    "default analog over parquet name resolution): metadata-only commit; "
    "files keep their physical names and each read resolves them through "
    "its rename epoch; time travel shows the as-of name; chained renames "
    "compose; filters on the renamed column stay correct across epochs "
    "(pre-rename files scan unpruned — their footer stats are keyed by "
    "physical names).",
)
def lakehouse_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _localize(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))

    def run(lake: Lakehouse):
        led = _CountLedger()
        t = lake.create_table("lab.rn_q", schema="n_nationkey bigint, n_name string")
        t.append(nation.filter(F.col("n_nationkey") < 5))
        v_before = t.log.latest_version()
        t.rename_column("n_name", "label")
        rows = [
            (
                "renamed_schema",
                ",".join(f.name for f in t.schema().fields),
                *led.counts(t.read()),
                "metadata-only commit",
            )
        ]
        t.append(
            nation.filter(F.col("n_nationkey").between(5, 9)).withColumnRenamed(
                "n_name", "label"
            )
        )
        rows.append(
            (
                "mixed_epoch_read",
                ",".join(t.read().columns),
                *led.counts(t.read()),
                "old files resolve physical n_name",
            )
        )
        old = t.read(version=v_before)
        rows.append(
            ("time_travel", ",".join(old.columns), *led.counts(old), "as-of schema shows old name")
        )
        t.rename_column("label", "title")
        t.append(
            nation.filter(F.col("n_nationkey").between(10, 14)).withColumnRenamed(
                "n_name", "title"
            )
        )
        rows.append(
            (
                "chained",
                ",".join(t.read().columns),
                *led.counts(t.read()),
                "n_name->label->title across 3 epochs",
            )
        )
        # one match per epoch: key 1 (pre-rename file), 7 (label epoch),
        # 12 (title epoch)
        filt = t.read().filter(F.col("title").rlike("NATION_(1|7|12)$"))
        rows.append(
            (
                "filtered",
                ",".join(filt.columns),
                *led.counts(filt),
                "filter on renamed col spans epochs",
            )
        )
        return (
            sorted(led.resolve(rows)),
            "step string, cols string, n_rows bigint, detail string",
        )

    return _with_lake_2e(spark, "lakehouse_rename_column", run)


_TXO_WH, _TXO = _se("lakehouse_multi_table_txn", "lab.txn_orders", p="o")
_TXA = _se_table(_TXO_WH, "lab.txn_agg", "a")


@register(
    "lakehouse_multi_table_txn",
    # SECOND-ENGINE oracle: every step's row counts recompute from the
    # two tables' logs with the TRANSACTION-MARKER rule applied by the
    # oracle itself — entries of the two aborted transactions are in
    # the log but must be excluded (their .txns markers say aborted)
    # and the committed ones included, or no step's counts agree. The
    # step states resolve at structural versions (n-th main-visible
    # append / overwrite / the delete). Detail strings are labels.
    oracle=_se_oracle(
        _TXO_WH,
        [
            *_TXO.ctes(),
            *_TXA.ctes(),
            _TXO.live("olv1", upto=_TXO.v_nth(1, "operation = 'append'")),
            _TXO.live("olv2", upto=_TXO.v_nth(2, "operation = 'append'")),
            _TXO.live("olv3", upto=_TXO.v_nth(3, "operation = 'append'")),
            _TXA.live("alv1", upto=_TXA.v_nth(1, "operation = 'append'")),
            _TXA.live("alv2", upto=_TXA.v_nth(2, "operation = 'append'")),
            _TXA.live("alvo1", upto=_TXA.v_nth(1, "operation = 'overwrite'")),
            _TXA.live("alvd", upto=_TXA.v_of("operation = 'delete'")),
            _TXA.live("alvo2", upto=_TXA.v_nth(2, "operation = 'overwrite'")),
            _TXO.rows("or1", "olv1"),
            _TXO.rows("or2", "olv2"),
            _TXO.rows("or3", "olv3"),
            _TXA.rows("ar1", "alv1"),
            _TXA.rows("ar2", "alv2"),
            _TXA.rows("aro1", "alvo1"),
            _TXA.rows("ard", "alvd"),
            _TXA.rows("aro2", "alvo2"),
        ],
        """SELECT 'staged' AS step, (SELECT count(*) FROM or1) AS orders_rows,
       (SELECT count(*) FROM ar1) AS agg_rows,
       'undecided: both invisible' AS detail
UNION ALL
SELECT 'committed', (SELECT count(*) FROM or2), (SELECT count(*) FROM ar2),
       'one marker flip: both visible'
UNION ALL
SELECT 'conflict', (SELECT count(*) FROM or2), (SELECT count(*) FROM aro1),
       'CommitConflictError: nothing published'
UNION ALL
SELECT 'mixed_commit', (SELECT count(*) FROM or3), (SELECT count(*) FROM ard),
       'append + delete_where, one flip'
UNION ALL
SELECT 'mixed_abort', (SELECT count(*) FROM or3), (SELECT count(*) FROM aro2),
       'CommitConflictError: nothing published'
ORDER BY step""",
    ),
    tags=("lakehouse", "transaction", "metadata"),
    doc="Multi-table atomic commit (the Nessie-catalog global-commit "
    "analog, docker-compose.yml:6): a transaction stages writes on an "
    "orders table AND its downstream aggregate; both invisible until "
    "ONE O_EXCL marker flip publishes them together; a conflicting "
    "concurrent commit on either table aborts the whole transaction "
    "with nothing published on any member. Transactions also span "
    "row-level ops: an append on one table + a copy-on-write "
    "delete_where on another publish atomically, and a concurrent "
    "commit invalidating the staged rewrite aborts both.",
)
def lakehouse_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _localize(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))

    def run(lake: Lakehouse):
        from ..lakehouse import CommitConflictError

        orders_t = lake.create_table("lab.txn_orders", schema="n_nationkey bigint, n_name string")
        agg_t = lake.create_table("lab.txn_agg", schema="n_cnt bigint")
        orders_t.append(nation.filter(F.col("n_nationkey") < 5))
        agg_t.append(local_df(spark, [(5,)], "n_cnt long"))

        # pipeline step: append a batch AND its aggregate, atomically
        led = _CountLedger()
        txn = lake.transaction()
        txn.append("lab.txn_orders", nation.filter(F.col("n_nationkey").between(5, 9)))
        txn.append("lab.txn_agg", local_df(spark, [(10,)], "n_cnt long"))
        rows = [
            ("staged", *led.counts(orders_t.read(), agg_t.read()), "undecided: both invisible")
        ]
        txn.commit()
        rows.append(
            ("committed", *led.counts(orders_t.read(), agg_t.read()), "one marker flip: both visible")
        )

        # conflict path: stage an overwrite on the aggregate, lose the
        # race to a direct writer -> the whole txn aborts
        txn2 = lake.transaction()
        txn2.append("lab.txn_orders", nation.filter(F.col("n_nationkey").between(10, 14)))
        txn2.overwrite("lab.txn_agg", local_df(spark, [(15,)], "n_cnt long"))
        agg_t.overwrite(
            agg_t.read().withColumn("n_cnt", F.col("n_cnt"))
        )  # concurrent rewrite wins
        try:
            txn2.commit()
            detail = "TXN UNEXPECTEDLY COMMITTED"
        except CommitConflictError:
            detail = "CommitConflictError: nothing published"
        rows.append(("conflict", *led.counts(orders_t.read(), agg_t.read()), detail))

        # generalized shapes: append on orders + row-level delete_where
        # on the aggregate, one atomic flip
        txn3 = lake.transaction()
        txn3.append("lab.txn_orders", nation.filter(F.col("n_nationkey").between(10, 14)))
        txn3.delete_where("lab.txn_agg", "n_cnt = 5")
        txn3.commit()
        rows.append(
            (
                "mixed_commit",
                *led.counts(orders_t.read(), agg_t.read()),
                "append + delete_where, one flip",
            )
        )

        # and the abort flavor: a direct overwrite replaces the file the
        # staged delete rewrites -> whole txn aborts, orders untouched
        txn4 = lake.transaction()
        txn4.append("lab.txn_orders", nation.filter(F.col("n_nationkey").between(15, 19)))
        txn4.delete_where("lab.txn_agg", "n_cnt = 10")
        agg_t.overwrite(local_df(spark, [(99,)], "n_cnt long"))
        try:
            txn4.commit()
            detail4 = "TXN UNEXPECTEDLY COMMITTED"
        except CommitConflictError:
            detail4 = "CommitConflictError: nothing published"
        rows.append(("mixed_abort", *led.counts(orders_t.read(), agg_t.read()), detail4))

        return (
            sorted(led.resolve(rows)),
            "step string, orders_rows bigint, agg_rows bigint, detail string",
        )

    return _with_lake_2e(spark, "lakehouse_multi_table_txn", run)


_MW_WH, _MW = _se("lakehouse_merge_when", "lab.acct")


@register(
    "lakehouse_merge_when",
    # SECOND-ENGINE oracle: all five post-state quantities recomputed by
    # reading the post-MERGE committed parquet — the WHEN-clause routing
    # (delete/update/insert/skip) must be physically reflected in the
    # rewritten files for count/sum/status splits to agree.
    oracle=_se_oracle(
        _MW_WH,
        [*_MW.ctes(), _MW.live("lvh"), _MW.rows("rh", "lvh")],
        """SELECT
  (SELECT count(*) FROM rh) AS rows_after,
  (SELECT CAST(sum(bal) AS BIGINT) FROM rh) AS sum_bal,
  (SELECT count(*) FROM rh WHERE status = 'adj') AS n_adj,
  (SELECT count(*) FROM rh WHERE status = 'new') AS n_new,
  (SELECT count(*) FROM rh WHERE status = 'open') AS n_open""",
    ),
    tags=("lakehouse", "sql", "dml"),
    doc="Row-level MERGE with the full WHEN grammar (Iceberg v2): "
    "conditional DELETE, per-column UPDATE SET expressions seeing the "
    "pre-update row, and conditional INSERT (cols) VALUES (exprs) — "
    "first-matching-clause semantics in one copy-on-write joined "
    "projection. 10 seed accounts: k=5 closed (deleted), k=2/8 "
    "adjusted (+50/-30), k=12 inserted, k=13 filtered out; all five "
    "post-state quantities recomputed from the post-MERGE committed "
    "parquet.",
)
def lakehouse_merge_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    def run(lake: Lakehouse):
        q = LakehouseSQL(lake, catalog_name="nessie")
        q.sql("CREATE TABLE nessie.lab.acct (k BIGINT, bal BIGINT, status STRING)")
        q.sql(
            "INSERT INTO nessie.lab.acct "
            "SELECT id, id * 100, 'open' FROM RANGE(0, 10)"
        )
        spark.sql(
            "SELECT * FROM VALUES (2, 50, 'adj'), (5, 0, 'close'), "
            "(8, -30, 'adj'), (12, 70, 'new'), (13, -1, 'skip') "
            "AS src(k, delta, op)"
        ).createOrReplaceTempView("acct_src")
        q.sql(
            """
            MERGE INTO nessie.lab.acct AS t USING acct_src AS s
            ON t.k = s.k
            WHEN MATCHED AND s.op = 'close' THEN DELETE
            WHEN MATCHED THEN UPDATE SET bal = t.bal + s.delta, status = s.op
            WHEN NOT MATCHED AND s.op != 'skip'
                THEN INSERT (k, bal, status) VALUES (s.k, s.delta, s.op)
            """
        )
        r = q.sql(
            "SELECT COUNT(*) AS rows_after, CAST(SUM(bal) AS BIGINT) AS sum_bal, "
            "COUNT(CASE WHEN status = 'adj' THEN 1 END) AS n_adj, "
            "COUNT(CASE WHEN status = 'new' THEN 1 END) AS n_new, "
            "COUNT(CASE WHEN status = 'open' THEN 1 END) AS n_open "
            "FROM nessie.lab.acct"
        ).first()
        return (
            [tuple(r)],
            "rows_after bigint, sum_bal bigint, n_adj bigint, n_new bigint, n_open bigint",
        )

    return _with_lake_2e(spark, "lakehouse_merge_when", run)


@register(
    "lakehouse_stats_prune",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS march_orders,
               ROUND(SUM(o_totalprice), 2) AS march_total,
               TRUE AS files_pruned,
               TRUE AS matches_full_scan
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-03-01'
          AND o_orderdate < TIMESTAMP '1995-04-01'
    """,
    tags=("lakehouse", "metadata", "pruning"),
    doc="Metadata-level scan planning (Iceberg manifest pruning "
    "analog): orders land range-clustered on o_orderdate, every "
    "commit records per-file min/max footer metrics, and a "
    "one-month filtered read consults ONLY those logged bounds to "
    "drop files before any Spark job runs (table.scan_plan / "
    "read(filters=...), lakehouse/pruning.py). The month's count "
    "and rounded revenue are oracle-checked against a full DuckDB "
    "scan; `files_pruned` pins that planning really skipped files "
    "and `matches_full_scan` pins exactness of the pruned read.",
)
def lakehouse_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )

    def run(lake: Lakehouse):
        t = lake.create_table(
            "lab.orders_sp",
            schema="o_orderkey bigint, o_custkey bigint, "
            "o_totalprice double, o_orderdate timestamp_ntz",
        )
        # cluster by date at write time (what rewrite_data_files
        # strategy='sort' maintains for an evolving table): disjoint
        # per-file date ranges make the logged min/max maximally
        # selective
        t.append(
            orders.repartitionByRange(8, "o_orderdate").sortWithinPartitions("o_orderdate")
        )
        flt = [
            ("o_orderdate", ">=", _dt.datetime(1995, 3, 1)),
            ("o_orderdate", "<", _dt.datetime(1995, 4, 1)),
        ]
        plan = t.scan_plan(flt)
        pruned_read = t.read(filters=flt)
        n_rows = pruned_read.count()
        total = pruned_read.agg(F.round(F.sum("o_totalprice"), 2)).first()[0]
        full = (
            t.read()
            .filter(
                (F.col("o_orderdate") >= F.lit("1995-03-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp_ntz"))
            )
            .count()
        )
        return (
            [
                (
                    n_rows,
                    float(total),
                    bool(0 < plan["files_scanned"] < plan["files_total"]),
                    bool(n_rows == full),
                )
            ],
            "march_orders bigint, march_total double, "
            "files_pruned boolean, matches_full_scan boolean",
        )

    return _with_lake(spark, run)


@register(
    "lakehouse_zorder_prune",
    oracle="""
        SELECT
            -- scale-relative cut (== 300 at the sf0.01 gate): a fixed
            -- literal matched EVERY row at sf0.001 (custkeys stop at
            -- 150), making custkey file-pruning impossible by
            -- construction — caught by the tools/sweep_sf.py run there
            CAST((SELECT COUNT(*) FROM orders
                  WHERE o_custkey <= (SELECT MAX(o_custkey) // 5 FROM orders))
                AS BIGINT) AS cust_orders,
            CAST((SELECT COUNT(*) FROM orders
                  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                    AND o_orderdate < TIMESTAMP '1995-07-01')
                AS BIGINT) AS h1_orders,
            TRUE AS cust_pruned,
            TRUE AS date_pruned
    """,
    tags=("lakehouse", "maintenance", "pruning"),
    doc="Z-order clustering end to end through the runbook SQL "
    "surface: CALL rewrite_data_files(strategy => 'zorder') "
    "bit-interleaves (o_custkey, o_orderdate) so filtered reads on "
    "EITHER dimension skip files via the logged min/max stats — "
    "plain sort clustering can only serve its leading column. "
    "CALL scan_plan(filter => ...) reports the planning decision; "
    "both filtered counts are oracle-checked against full DuckDB "
    "scans and both pruning booleans are pinned.",
)
def lakehouse_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )

    def run(lake: Lakehouse):
        t = lake.create_table(
            "lab.orders_z",
            schema="o_orderkey bigint, o_custkey bigint, "
            "o_totalprice double, o_orderdate timestamp_ntz",
        )
        t.append(orders.repartition(8))
        total = sum(fi.size_bytes for fi in t.log.state_at().values())
        q = LakehouseSQL(lake, catalog_name="nessie")
        q.sql(
            "CALL nessie.system.rewrite_data_files(table => 'lab.orders_z', "
            "strategy => 'zorder', sort_order => 'o_custkey,o_orderdate', "
            f"options => map('target-file-size-bytes','{max(1, total // 16)}'))"
        )
        # scale-relative selectivity (matches the oracle's MAX // 5;
        # == 300 at the sf0.01 gate): a fixed literal is non-selective
        # at small sfs, where custkeys never reach it
        cust_cut = int(orders.agg(F.max("o_custkey")).first()[0]) // 5
        cust_plan = q.sql(
            "CALL nessie.system.scan_plan(table => 'lab.orders_z', "
            f"filter => 'o_custkey <= {cust_cut}')"
        ).first()
        date_flt = [
            ("o_orderdate", ">=", _dt.datetime(1995, 1, 1)),
            ("o_orderdate", "<", _dt.datetime(1995, 7, 1)),
        ]
        date_plan = t.scan_plan(date_flt)
        cust_orders = t.read(filters=[("o_custkey", "<=", cust_cut)]).count()
        h1_orders = t.read(filters=date_flt).count()
        return (
            [
                (
                    cust_orders,
                    h1_orders,
                    bool(0 < cust_plan.files_scanned < cust_plan.files_total),
                    bool(0 < date_plan["files_scanned"] < date_plan["files_total"]),
                )
            ],
            "cust_orders bigint, h1_orders bigint, "
            "cust_pruned boolean, date_pruned boolean",
        )

    return _with_lake(spark, run)


_MOR_WH, _MOR = _se("lakehouse_mor_delete", "lab.nation_mor")


@register(
    "lakehouse_mor_delete",
    oracle=_se_oracle(
        _MOR_WH,
        [
            *_MOR.ctes(),
            _MOR.live("lva", upto=_MOR.v_of("operation = 'append'")),
            _MOR.live("lvd", upto=_MOR.v_of("operation = 'delete'")),
            _MOR.live("lvh"),
            _MOR.rows("ra", "lva", pos_deletes=True),
            _MOR.rows("rd", "lvd", pos_deletes=True),
            _MOR.rows("rhc", "lvh", pos_deletes=True),
        ],
        """SELECT
  (SELECT count(*) FROM ra) AS rows_initial,
  (SELECT count(*) FROM rd) AS rows_after_delete,
  (SELECT count(*) FROM t_data d
   JOIN lvd l ON l.content = 1 AND ends_with(d.filename, l.path))
    AS tombstone_entries,
  (SELECT count(*) > 0 FROM lvd WHERE content = 1) AS tombstones_present,
  (SELECT len(removed_files) = 0 FROM t_main WHERE operation = 'delete')
    AS no_data_rewritten,
  (SELECT count(*) FROM lvh WHERE content = 1) AS pos_delete_files_after,
  (SELECT count(*) FROM rhc) AS rows_after_compaction""",
    ),
    tags=("lakehouse", "row-level", "delete", "merge-on-read"),
    doc="Merge-on-read DELETE lifecycle (Iceberg v2 content=1, guide "
    ":107/:336-340): the table sets write.delete.mode=merge-on-read so "
    "a plain SQL DELETE writes position-delete tombstones instead of "
    "rewriting data files (`no_data_rewritten` pins that the delete "
    "commit removed nothing), reads merge them out, and CALL "
    "rewrite_data_files folds them back in — the guide's own "
    "content-class diagnostics query shows nonzero content=1 files "
    "before compaction and zero after (`pos_delete_files_after`). "
    "Second-engine checked: the oracle resolves the committed log and "
    "APPLIES the position-delete files itself (anti-join on "
    "file_path+pos over the raw parquet).",
)
def lakehouse_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _localize(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))

    def run(lake: Lakehouse):
        t = lake.create_table(
            "lab.nation_mor",
            schema="n_nationkey bigint, n_name string",
            properties={
                "write.target-file-size-bytes": "65536",
                "write.delete.mode": "merge-on-read",
            },
        )
        led = _CountLedger()
        t.append(nation.repartition(4, "n_nationkey"))
        (rows_initial,) = led.counts(t.read())
        q = LakehouseSQL(lake, catalog_name="nessie")
        q.sql("DELETE FROM nessie.lab.nation_mor WHERE n_nationkey % 5 = 0")
        (rows_after,) = led.counts(t.read())
        delete_entry = t.log.read_entry(t.log.latest_version())
        no_rewrite = not delete_entry.removed_files
        # the guide's content-class accounting query (:336-340)
        by_content = {
            r["content"]: (r["files"], r["entries"])
            for r in t.files()
            .groupBy("content")
            .agg(F.count("*").alias("files"), F.sum("record_count").alias("entries"))
            .collect()
        }
        tombstone_entries = int(by_content.get(1, (0, 0))[1])
        tombstones_present = by_content.get(1, (0, 0))[0] > 0
        q.sql(
            "CALL nessie.system.rewrite_data_files(table => 'lab.nation_mor', "
            "options => map('target-file-size-bytes','134217728'))"
        )
        pos_after = t.files().filter(F.col("content") == 1).count()
        (rows_final,) = led.counts(t.read())
        return (
            led.resolve([
                (
                    rows_initial,
                    rows_after,
                    tombstone_entries,
                    bool(tombstones_present),
                    bool(no_rewrite),
                    pos_after,
                    rows_final,
                )
            ]),
            "rows_initial bigint, rows_after_delete bigint, "
            "tombstone_entries bigint, tombstones_present boolean, "
            "no_data_rewritten boolean, pos_delete_files_after bigint, "
            "rows_after_compaction bigint",
        )

    return _with_lake_2e(spark, "lakehouse_mor_delete", run)


_EQD_WH, _EQD = _se("lakehouse_equality_delete", "lab.nation_eq")


@register(
    "lakehouse_equality_delete",
    # SECOND-ENGINE oracle: the equality-delete file is APPLIED BY THE
    # ORACLE — anti-join on n_nationkey under the Iceberg sequence rule
    # (delete seq > data-file seq), so the REBORN row appended after
    # the delete must survive in DuckDB's own re-read for the counts
    # and seq_rule_respected to agree.
    oracle=_se_oracle(
        _EQD_WH,
        [
            *_EQD.ctes(),
            _EQD.live("lva", upto=_EQD.v_nth(1, "operation = 'append'")),
            _EQD.live("lvd", upto=_EQD.v_of("operation = 'delete'")),
            _EQD.live("lvr", upto=_EQD.v_nth(2, "operation = 'append'")),
            _EQD.live("lvh"),
            _EQD.rows("r1", "lva", eq_cols=("n_nationkey",)),
            _EQD.rows("rd", "lvd", eq_cols=("n_nationkey",)),
            _EQD.rows("rr", "lvr", eq_cols=("n_nationkey",)),
            _EQD.rows("rh", "lvh", eq_cols=("n_nationkey",)),
        ],
        """SELECT
  (SELECT count(*) FROM r1) AS rows_initial,
  (SELECT count(*) FROM rd) AS rows_after_eq_delete,
  (SELECT count(*) FROM rr) AS rows_after_reappend,
  ((SELECT count(*) FROM rr WHERE n_name = 'REBORN') = 1
   AND (SELECT count(*) FROM rh WHERE n_name = 'REBORN') = 1)
    AS seq_rule_respected,
  (SELECT count(*) FROM lvh WHERE content = 2) AS eq_files_after_fold,
  (SELECT count(*) FROM rh) AS rows_after_fold""",
    ),
    tags=("lakehouse", "row-level", "delete", "equality"),
    doc="Equality-delete lifecycle (Iceberg v2 content=2, guide "
    ":336-340 — completes the content taxonomy): equality_delete "
    "commits the keys 0-4 WITHOUT scanning any data (the CDC writer "
    "path: O(keys), table-size-independent), reads anti-join them "
    "out of OLDER files only, and a row with a deleted key appended "
    "AFTER the delete survives — Iceberg's data-sequence-number rule "
    "(`seq_rule_respected`). rewrite_equality_deletes then folds the "
    "deletes into the affected files and drops the content=2 files "
    "(`eq_files_after_fold` = 0) without changing any result. Row "
    "counts recompute in DuckDB from the nation table.",
)
def lakehouse_equality_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lakehouse import rewrite_equality_deletes

    nation = _localize(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))

    def run(lake: Lakehouse):
        t = lake.create_table(
            "lab.nation_eq", schema="n_nationkey bigint, n_name string"
        )
        led = _CountLedger()
        t.append(nation.repartition(4, "n_nationkey"))
        (rows_initial,) = led.counts(t.read())
        keys = local_df(t.spark, [(k,) for k in range(5)], "n_nationkey bigint")
        t.equality_delete(keys, ["n_nationkey"])
        (rows_after_eq,) = led.counts(t.read())
        # re-append one deleted key AFTER the delete: must survive
        t.append(
            local_df(t.spark, 
                [(2, "REBORN")], "n_nationkey bigint, n_name string"
            )
        )
        rows_re, reborn_pre = led.counts(
            t.read(), t.read().filter(F.col("n_name") == "REBORN")
        )
        rewrite_equality_deletes(t)
        eq_after = t.files().filter(F.col("content") == 2).count()
        rows_fold, reborn_post = led.counts(
            t.read(), t.read().filter(F.col("n_name") == "REBORN")
        )
        # resolve the deferred counts, then derive the boolean
        [(rows_initial, rows_after_eq, rows_re, rows_fold, rb1, rb2)] = led.resolve(
            [(rows_initial, rows_after_eq, rows_re, rows_fold, reborn_pre, reborn_post)]
        )
        seq_ok = rb1 == 1 and rb2 == 1
        return (
            [
                (
                    rows_initial,
                    rows_after_eq,
                    rows_re,
                    bool(seq_ok),
                    eq_after,
                    rows_fold,
                )
            ],
            "rows_initial bigint, rows_after_eq_delete bigint, "
            "rows_after_reappend bigint, seq_rule_respected boolean, "
            "eq_files_after_fold bigint, rows_after_fold bigint",
        )

    return _with_lake_2e(spark, "lakehouse_equality_delete", run)


@register(
    "lakehouse_partition_prune",
    oracle="""
        SELECT
            CAST((SELECT COUNT(*) FROM orders
                  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                    AND o_orderdate < TIMESTAMP '1996-01-01')
                AS BIGINT) AS rows_1995,
            CAST((SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders)
                AS BIGINT) AS partitions_total,
            TRUE AS partition_pruned,
            TRUE AS boundary_partitions_pruned,
            CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS rows_total
    """,
    tags=("lakehouse", "partitioning", "pruning"),
    doc="Iceberg-style hidden partitioning end to end through the SQL "
    "surface: CREATE TABLE ... PARTITIONED BY (year(o_orderdate)) lays "
    "orders out per transform value (hive dirs via Spark's native "
    "partitionBy; the source column stays in the data files), the "
    "`.partitions` metadata view counts one row per live partition "
    "(recomputed in DuckDB as COUNT(DISTINCT year)), and a one-year "
    "[start, end) filter prunes every other partition from METADATA "
    "alone before any Spark job — including both boundary partitions, "
    "because midnight-boundary literals are provably exclusive. The "
    "1995 count and total recompute in DuckDB.",
)
def lakehouse_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )

    def run(lake: Lakehouse):
        q = LakehouseSQL(lake, catalog_name="nessie")
        q.sql(
            "CREATE TABLE nessie.lab.orders_part (o_orderkey BIGINT, "
            "o_custkey BIGINT, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ) "
            "PARTITIONED BY (year(o_orderdate))"
        )
        t = lake.table("lab.orders_part")
        t.append(orders)
        partitions_total = q.sql(
            "SELECT count(*) AS n FROM nessie.lab.orders_part.partitions"
        ).first()["n"]
        flt = [
            ("o_orderdate", ">=", _dt.datetime(1995, 1, 1)),
            ("o_orderdate", "<", _dt.datetime(1996, 1, 1)),
        ]
        plan = t.scan_plan(flt)
        rows_1995 = t.read(filters=flt).count()
        rows_total = t.read().count()
        return (
            [
                (
                    rows_1995,
                    partitions_total,
                    bool(plan["files_pruned_by_partition"] > 0),
                    # exactly ONE year partition survives a [Jan 1, Jan 1)
                    # range: both boundary years pruned at midnight
                    bool(plan["files_scanned"] == plan["files_total"] - plan["files_pruned_by_partition"] and
                         plan["files_pruned_by_partition"] == partitions_total - 1),
                    rows_total,
                )
            ],
            "rows_1995 bigint, partitions_total bigint, partition_pruned boolean, "
            "boundary_partitions_pruned boolean, rows_total bigint",
        )

    return _with_lake(spark, run)


_MT_WH, _MT = _se("lakehouse_metadata_tables", "lab.nation_meta")


@register(
    "lakehouse_metadata_tables",
    # SECOND-ENGINE oracle: every metadata-VIEW quantity the engine
    # reports (.history ancestry, .entries add/delete rows,
    # .position_deletes, .all_files, .files) is RECOMPUTED by DuckDB's
    # own fold of the committed log — the views themselves are checked
    # against the table format, not against pinned literals.
    oracle=_se_oracle(
        _MT_WH,
        [
            *_MT.ctes(),
            _MT.live("mld", upto=_MT.v_of("operation = 'delete'")),
            _MT.live("mlh"),
        ],
        """SELECT
  (SELECT count(*) FROM t_main) AS history_rows,
  -- entries a later rollback jumped over are off the current ancestry
  -- (single-rollback scenario; a multi-rollback walk would recurse)
  (SELECT count(*) FROM t_main e
    WHERE e.operation <> 'rollback' AND EXISTS (
      SELECT 1 FROM t_main r WHERE r.operation = 'rollback'
        AND e.version > CAST(json_extract_string(r.extra, '$.rollback_to') AS BIGINT)
        AND e.version < r.version)) AS abandoned_snapshots,
  (SELECT count(*) FROM t_acts WHERE add_ = 1) AS entries_added,
  (SELECT count(*) FROM t_acts WHERE add_ = 0) AS entries_deleted,
  (SELECT count(*) FROM t_data d
    JOIN mld l ON l.content = 1 AND ends_with(d.filename, l.path))
    AS pos_delete_rows,
  (SELECT count(*) FROM mld WHERE content = 1) AS pos_delete_files,
  (SELECT count(DISTINCT path) FROM t_acts WHERE add_ = 1) AS all_files_count,
  (SELECT count(*) FROM mlh) AS live_files_count,
  (SELECT count(*) FROM t_data d
    JOIN mlh l ON l.content = 1 AND ends_with(d.filename, l.path))
    AS pos_delete_rows_after_rollback""",
    ),
    tags=("lakehouse", "metadata"),
    doc="The full Iceberg metadata-table surface beyond .snapshots/"
    ".files: `.history` (rollback leaves the rolled-over snapshot "
    "with is_current_ancestor=false — guide :304-316's audit), "
    "`.entries` (per-commit ADDED/DELETED file changes), "
    "`.position_deletes` (live tombstone rows with their delete "
    "file), and `.all_files` (files of ALL snapshots, the expiry-"
    "planning view). Lifecycle: 2 appends -> merge-on-read DELETE "
    "(content=1, guide :336-340) -> rollback. Second-engine checked "
    "(r12): every view quantity recomputes from DuckDB's independent "
    "fold of the committed log — history row count, rollback-abandoned "
    "ancestry, per-commit add/remove rows, tombstone rows/files at the "
    "delete snapshot, all-files vs live-files, and the rollback "
    "clearing the tombstones.",
)
def lakehouse_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _localize(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))

    def run(lake: Lakehouse):
        t = lake.create_table(
            "lab.nation_meta",
            schema="n_nationkey bigint, n_name string",
            properties={"write.delete.mode": "merge-on-read"},
        )
        t.append(nation.filter(F.col("n_nationkey") < 10).repartition(2, "n_nationkey"))
        t.append(nation.filter(F.col("n_nationkey") >= 10).repartition(2, "n_nationkey"))
        pre_rollback_version = t.log.latest_version()
        t.delete_where("n_nationkey % 5 = 0")  # 5 tombstones, 1 delete file
        led = _CountLedger()
        pos = t.position_deletes()
        pos_rows, pos_files = led.counts(
            pos, pos.select("delete_file_path").distinct()
        )
        all_files = t.all_files().count()
        rollback_to_snapshot(t, pre_rollback_version)
        hist = t.history().collect()
        non_ancestors = sum(1 for r in hist if not r.is_current_ancestor)
        ent = t.entries().collect()
        added = sum(1 for r in ent if r.status == 1)
        deleted = sum(1 for r in ent if r.status == 2)
        live = t.files().count()
        (pos_after,) = led.counts(t.position_deletes())
        return (
            led.resolve([
                (
                    len(hist),
                    non_ancestors,
                    added,
                    deleted,
                    pos_rows,
                    pos_files,
                    all_files,
                    live,
                    pos_after,
                )
            ]),
            "history_rows bigint, abandoned_snapshots bigint, entries_added bigint, "
            "entries_deleted bigint, pos_delete_rows bigint, pos_delete_files bigint, "
            "all_files_count bigint, live_files_count bigint, "
            "pos_delete_rows_after_rollback bigint",
        )

    return _with_lake_2e(spark, "lakehouse_metadata_tables", run)


_CL_WH, _CL = _se("lakehouse_changelog", "lab.changelog")


@register(
    "lakehouse_changelog",
    # SECOND-ENGINE oracle (r12): the changelog derives from the LOG
    # STRUCTURE itself — DuckDB maps each non-create commit to its
    # change class (append -> insert rows of its data files; MOR delete
    # -> its tombstone rows; MOR update -> added data rows as
    # update_after, added tombstone rows as update_before), counts the
    # ACTUAL rows inside those parquet files, and stamps the commit's
    # ordinal. The engine's read_changelog must agree row for row.
    oracle=_se_oracle(
        _CL_WH,
        [
            *_CL.ctes(),
            """cl_commits AS (
  SELECT version, operation,
         row_number() OVER (ORDER BY version) - 1 AS ordinal
  FROM t_main WHERE operation <> 'create'
)""",
            """cl_added AS (
  SELECT c.ordinal, c.operation, f.path AS path,
         COALESCE(f.content, 0) AS content
  FROM (SELECT version, unnest(added_files) AS f FROM t_main) e(version, f)
  JOIN cl_commits c ON c.version = e.version
)""",
        ],
        """SELECT CASE
         WHEN a.operation = 'append' THEN 'insert'
         WHEN a.operation = 'delete' THEN 'delete'
         WHEN a.content = 0 THEN 'update_after'
         ELSE 'update_before' END AS change_type,
       a.ordinal AS change_ordinal,
       count(*) AS n
FROM t_data d JOIN cl_added a ON ends_with(d.filename, a.path)
GROUP BY 1, 2 ORDER BY 1, 2""",
    ),
    tags=("lakehouse", "cdc", "changelog"),
    doc="Row-level changelog read (Iceberg's create_changelog_view): "
    "append 20 -> merge-on-read DELETE of 2 keys -> UPDATE of 1 key, "
    "then read_changelog over the range with identifier_columns so the "
    "update surfaces as an update_before/update_after pair instead of "
    "delete+insert. Per-commit scoped diffs (only files whose "
    "visibility changed are scanned — commit-blast-radius, not "
    "table-sized) and replace commits are transparent. Second-engine "
    "checked (r12): change classes, ordinals, and row counts all "
    "recompute from the log structure and the parquet bytes.",
)
def lakehouse_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    def run(lake: Lakehouse):
        t = lake.create_table(
            "lab.changelog",
            schema="k bigint, v string",
            properties={
                "write.delete.mode": "merge-on-read",
                "write.update.mode": "merge-on-read",
            },
        )
        v0 = t.log.latest_version()
        t.append(
            local_df(spark, [(i, f"v{i}") for i in range(20)], "k bigint, v string")
        )
        t.delete_where("k IN (3, 4)")
        t.update_where({"v": "concat('u', k)"}, "k = 7")
        log = t.read_changelog(v0, identifier_columns=["k"])
        rows = (
            log.groupBy("_change_type", "_change_ordinal")
            .agg(F.count("*").alias("n"))
            .orderBy("_change_type", "_change_ordinal")
            .collect()
        )
        return (
            [(r._change_type, int(r._change_ordinal), r.n) for r in rows],
            "change_type string, change_ordinal bigint, n bigint",
        )

    return _with_lake_2e(spark, "lakehouse_changelog", run)


_AF_WH, _AF = _se("lakehouse_add_files", "lab.adopted")


@register(
    "lakehouse_add_files",
    # SECOND-ENGINE oracle (r12): adoption quantities recompute from
    # the committed log + the adopted parquet bytes themselves —
    # adopted_records counts the ACTUAL rows inside the adoption
    # commit's files (a wrong footer row_count would go red), the
    # rejection's EFFECT recomputes as "no live file lacks the n_name
    # column" (an adopted narrow file would union in as NULLs), and
    # stats pruning recomputes from true per-file key extents.
    oracle=_se_oracle(
        _AF_WH,
        [
            *_AF.ctes(),
            _AF.live("afh"),
            _AF.rows("afr", "afh"),
            """af_adopted AS (
  SELECT unnest(added_files).path AS path FROM t_main
  WHERE operation = 'add_files'
)""",
            """af_ranges AS (
  SELECT l.path, min(d.n_nationkey) AS mn, max(d.n_nationkey) AS mx
  FROM t_data d JOIN afh l ON ends_with(d.filename, l.path)
  GROUP BY l.path
)""",
        ],
        """SELECT
  (SELECT count(*) FROM af_adopted) AS adopted_files,
  (SELECT count(*) FROM t_data d
    JOIN af_adopted a ON ends_with(d.filename, a.path)) AS adopted_records,
  (SELECT count(*) FROM afr) AS rows_after,
  (SELECT count(*) = 0 FROM afr WHERE n_name IS NULL)
    AS rejected_narrow_source,
  (SELECT count(*) FROM af_ranges WHERE 3 NOT BETWEEN mn AND mx)
    AS pruned_by_adopted_stats""",
    ),
    tags=("lakehouse", "maintenance", "migration"),
    doc="Bulk adoption (Iceberg's add_files procedure): a directory of "
    "pre-existing parquet joins the table as ONE snapshot commit with "
    "zero rewrite (hard links on POSIX), its footer stats immediately "
    "drive scan pruning, and a source missing a table column is "
    "rejected atomically (adopting hive-layout files that dropped "
    "their partition column would silently null it). Second-engine "
    "checked (r12): adoption counts, rejection effect, and stats "
    "pruning all recompute from the committed log and parquet bytes.",
)
def lakehouse_add_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    nation = _localize(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))

    def run(lake: Lakehouse):
        from ..lakehouse import MaintenanceError, add_files

        src = _tf.mkdtemp(prefix="add_files_src_")
        try:
            nation.repartitionByRange(2, "n_nationkey").write.mode(
                "overwrite"
            ).parquet(src)
            t = lake.create_table(
                "lab.adopted", schema="n_nationkey bigint, n_name string"
            )
            t.append(nation.filter("n_nationkey < 5").coalesce(1))
            res = add_files(t, src)
            rows_after = t.read().count()
            plan = t.scan_plan([("n_nationkey", "=", 3)])
            narrow = _tf.mkdtemp(prefix="add_files_narrow_")
            try:
                nation.select("n_nationkey").write.mode("overwrite").parquet(narrow)
                try:
                    add_files(t, narrow)
                    rejected = False
                except MaintenanceError:
                    rejected = True
            finally:
                shutil.rmtree(narrow, ignore_errors=True)
            return (
                [
                    (
                        res["added_files"],
                        res["added_records"],
                        rows_after,
                        rejected,
                        # key 3 lives in the appended file AND the low
                        # adopted range-half; only the high adopted half
                        # prunes — proving adopted footer stats plan
                        plan["files_pruned"],
                    )
                ],
                "adopted_files bigint, adopted_records bigint, rows_after bigint, "
                "rejected_narrow_source boolean, pruned_by_adopted_stats bigint",
            )
        finally:
            shutil.rmtree(src, ignore_errors=True)

    return _with_lake_2e(spark, "lakehouse_add_files", run)


_DYN_WH, _DYN = _se("lakehouse_dynamic_overwrite", "lab.dynow")


@register(
    "lakehouse_dynamic_overwrite",
    # SECOND-ENGINE oracle: per-partition row counts recompute from the
    # post-overwrite committed parquet; untouched_files_kept recomputes
    # as an exact SET EQUALITY of the non-c1 live file paths before vs
    # after the overwrite commit — replacing only the touched
    # partition's files is the property, and the log is the evidence.
    oracle=_se_oracle(
        _DYN_WH,
        [
            *_DYN.ctes(),
            _DYN.live("lvb", upto=_DYN.v_of("operation = 'append'")),
            _DYN.live("lvh"),
            _DYN.rows("rh", "lvh"),
        ],
        """SELECT
  (SELECT count(*) FROM rh WHERE cat = 'c1') AS rows_replaced_part,
  (SELECT count(*) FROM rh WHERE cat = 'c0') AS rows_untouched_c0,
  (SELECT count(*) FROM rh WHERE cat = 'c2') AS rows_untouched_c2,
  (SELECT count(*) FROM rh) AS rows_total,
  ((SELECT count(*) FROM (
      (SELECT path FROM lvb WHERE content = 0
         AND path NOT LIKE '%__p_cat=c1%'
       EXCEPT
       SELECT path FROM lvh WHERE content = 0)
      UNION ALL
      (SELECT path FROM lvh WHERE content = 0
         AND path NOT LIKE '%__p_cat=c1%'
       EXCEPT
       SELECT path FROM lvb WHERE content = 0)
  )) = 0) AS untouched_files_kept""",
    ),
    tags=("lakehouse", "dml", "partition"),
    doc="Dynamic partition overwrite (INSERT OVERWRITE on a partitioned "
    "table; Iceberg ReplacePartitions): a 5-row backfill of partition "
    "c1 replaces ONLY c1 — c0/c2 keep their rows AND their exact files "
    "(zero rewrite outside the touched partition; the idempotent-"
    "backfill primitive at 100 TB). Commit-time validation conflicts "
    "with racing appends into touched partitions. Quantities "
    "recomputed, file-set equality outside the touched partition "
    "checked path-by-path.",
)
def lakehouse_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    def run(lake: Lakehouse):
        t = lake.create_table(
            "lab.dynow",
            schema="k bigint, cat string, v string",
            properties={"partition.spec": "cat"},
        )
        t.append(
            spark.range(0, 90).select(
                F.col("id").alias("k"),
                F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias("cat"),
                F.concat(F.lit("v"), F.col("id")).alias("v"),
            )
        )
        before = {
            fi.path
            for fi in t.log.state_at().values()
            if fi.partition and fi.partition.get("__p_cat") != "c1"
        }
        t.overwrite_partitions(
            local_df(spark, 
                [(1000 + i, "c1", f"new{i}") for i in range(5)],
                "k bigint, cat string, v string",
            )
        )
        after = {
            fi.path
            for fi in t.log.state_at().values()
            if fi.partition and fi.partition.get("__p_cat") != "c1"
        }
        r = t.read()
        return (
            [
                (
                    *_nrows(
                        r.filter("cat = 'c1'"),
                        r.filter("cat = 'c0'"),
                        r.filter("cat = 'c2'"),
                        r,
                    ),
                    before == after,
                )
            ],
            "rows_replaced_part bigint, rows_untouched_c0 bigint, "
            "rows_untouched_c2 bigint, rows_total bigint, untouched_files_kept boolean",
        )

    return _with_lake_2e(spark, "lakehouse_dynamic_overwrite", run)


_SPE_WH, _SPE = _se("lakehouse_spec_evolution", "lab.spec_ev", p="ev")
_SPB = _se_table(_SPE_WH, "lab.spec_bw", "bw")


@register(
    "lakehouse_spec_evolution",
    # SECOND-ENGINE oracle: counts recompute from the resolved live
    # rows; the pruning booleans recompute from TRUE per-file value
    # extents (the sort_order_writes pattern) — a filter is prunable
    # iff some live file contains zero matching rows, so an engine
    # whose spec-history pruning broke (reports 0 files pruned) goes
    # red against the recomputed TRUE, and over-pruning (wrong answers)
    # is caught by the row counts. bucket_isolated recomputes each
    # probed key's multiplicity from the resolved rows: exactly one
    # row per id across both bucket-width eras.
    oracle=_se_oracle(
        _SPE_WH,
        [
            *_SPE.ctes(),
            *_SPB.ctes(),
            _SPE.live("ev_lv"),
            _SPB.live("bw_lv"),
            _SPE.rows("ev_r", "ev_lv"),
            _SPB.rows("bw_r", "bw_lv"),
            """ev_files AS (
  SELECT filename,
         count(*) FILTER (WHERE cat = 'c1') AS n_c1,
         count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-03'
                            AND ts < TIMESTAMP '2024-01-04') AS n_day3
  FROM ev_r GROUP BY filename
)""",
        ],
        """SELECT
  (SELECT count(*) FROM ev_r) AS rows_total,
  (SELECT count(*) FILTER (WHERE n_c1 = 0) > 0 FROM ev_files)
    AS old_era_prunes,
  (SELECT count(*) FILTER (WHERE n_day3 = 0) > 0 FROM ev_files)
    AS new_era_prunes,
  (SELECT count(*) FROM ev_r WHERE cat = 'c1') AS rows_cat_c1,
  (SELECT count(*) FROM ev_r WHERE ts >= TIMESTAMP '2024-01-03'
     AND ts < TIMESTAMP '2024-01-04') AS rows_day3,
  ((SELECT count(*) FROM bw_r WHERE id IN (0, 7, 39, 40, 77)) = 5
   AND (SELECT coalesce(max(c), 0) FROM (
          SELECT count(*) AS c FROM bw_r
          WHERE id IN (0, 7, 39, 40, 77) GROUP BY id)) = 1)
    AS bucket_isolated""",
    ),
    tags=("lakehouse", "partition", "evolution"),
    doc="Partition spec evolution (ALTER TABLE ADD/DROP PARTITION "
    "FIELD): era 1 written under `cat`, era 2 under `cat, day(ts)` — "
    "metadata-only evolution, no file moves. Reads prune MIXED-spec "
    "files through the spec-history union: a cat filter prunes both "
    "eras, a day filter prunes only the era that recorded it (old "
    "files degrade to scan, never to wrong answers). Bucket-width "
    "evolution is isolated by parameterized partition names "
    "(bucket(4) dirs are never pruned with the bucket(8) hash). All "
    "quantities recompute second-engine-side: counts from the resolved "
    "rows, pruning claims from true per-file extents.",
)
def lakehouse_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    def run(lake: Lakehouse):
        t = lake.create_table(
            "lab.spec_ev",
            schema="id bigint, cat string, ts timestamp",
            partition_by="cat",
        )

        def mk(lo, hi):
            return spark.range(lo, hi).select(
                F.col("id"),
                F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias("cat"),
                F.expr(
                    "timestamp'2024-01-01 00:00:00'"
                    " + make_interval(0, 0, 0, CAST(id % 5 AS INT), 0, 0, 0)"
                ).alias("ts"),
            )

        t.append(mk(0, 60))
        t.add_partition_field("day(ts)")
        t.append(mk(60, 120))
        day = _dt.datetime(2024, 1, 3)
        cat_plan = t.scan_plan([("cat", "=", "c1")])
        day_plan = t.scan_plan(
            [("ts", ">=", day), ("ts", "<", day + _dt.timedelta(days=1))]
        )
        # bucket-width evolution isolation on a second table
        t2 = lake.create_table(
            "lab.spec_bw", schema="id bigint", partition_by="bucket(4, id)"
        )
        t2.append(spark.range(0, 40).select("id"))
        t2.drop_partition_field("bucket(4, id)")
        t2.add_partition_field("bucket(8, id)")
        t2.append(spark.range(40, 80).select("id"))
        # every verification count in ONE job (all reads are of the
        # final committed state; nothing commits after this point)
        (rows_c1, rows_day3, rows_total, *iso) = _nrows(
            t.read(filters=[("cat", "=", "c1")]),
            t.read(
                filters=[("ts", ">=", day), ("ts", "<", day + _dt.timedelta(days=1))]
            ),
            t.read(),
            *[t2.read(filters=[("id", "=", p)]) for p in (0, 7, 39, 40, 77)],
        )
        isolated = all(n == 1 for n in iso)
        return (
            [
                (
                    rows_total,
                    bool(cat_plan["files_pruned_by_partition"] > 0),
                    bool(day_plan["files_pruned_by_partition"] > 0),
                    rows_c1,
                    rows_day3,
                    isolated,
                )
            ],
            "rows_total bigint, old_era_prunes boolean, new_era_prunes boolean, "
            "rows_cat_c1 bigint, rows_day3 bigint, bucket_isolated boolean",
        )

    return _with_lake_2e(spark, "lakehouse_spec_evolution", run)


@register(
    "lakehouse_views",
    # TRUE cross-engine oracle: the view definitions are plain SQL over
    # the nation fixture, so DuckDB runs the INLINED definitions —
    # exactly what reference-time expansion produces.
    oracle="""
        WITH big AS (
            SELECT n_nationkey, n_name, n_regionkey FROM nation
            WHERE n_nationkey >= 10
        ),
        per_region AS (
            SELECT n_regionkey, COUNT(*) AS n FROM big GROUP BY n_regionkey
        )
        SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
               CAST(n AS BIGINT) AS n
        FROM per_region ORDER BY n_regionkey
    """,
    tags=("lakehouse", "views", "sql"),
    doc="Catalog-persisted SQL views (the Nessie view-catalog analog): "
    "CREATE VIEW over a lakehouse table, a second view stacked on the "
    "first, queried through the statement router — definitions expand "
    "at reference time, so the oracle is simply the INLINED SQL on the "
    "same fixture (a genuine cross-engine recomputation, the EP3 "
    "two-engine pattern applied to the view layer).",
)
def lakehouse_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _localize(
        load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
    )

    def run(lake: Lakehouse):
        t = lake.create_table(
            "lab.nation_v",
            schema="n_nationkey bigint, n_name string, n_regionkey bigint",
        )
        t.append(nation)
        sql = LakehouseSQL(lake)
        sql.sql(
            "CREATE VIEW lab.big AS SELECT n_nationkey, n_name, n_regionkey "
            "FROM lab.nation_v WHERE n_nationkey >= 10"
        )
        sql.sql(
            "CREATE VIEW lab.per_region AS SELECT n_regionkey, COUNT(*) AS n "
            "FROM lab.big GROUP BY n_regionkey"
        )
        rows = sql.sql(
            "SELECT n_regionkey, n FROM lab.per_region ORDER BY n_regionkey"
        ).collect()
        return (
            [(r.n_regionkey, r.n) for r in rows],
            "n_regionkey bigint, n bigint",
        )

    return _with_lake(spark, run)


_SOW_WH, _SOW = _se("lakehouse_sort_order_writes", "lab.rangew")


@register(
    "lakehouse_sort_order_writes",
    # SECOND-ENGINE oracle (r12): the pruning claims recompute from the
    # ACTUAL data extents, not the engine's footers — DuckDB derives
    # each live file's true [min,max] k-range and counts the files
    # whose range covers the lookup key (files_scanned must equal it,
    # so overlapping ranges or wrong footer stats go red), checks
    # non-decreasing k inside EVERY file (the engine samples one), and
    # recounts the point lookup from the resolved rows.
    oracle=_se_oracle(
        _SOW_WH,
        [
            *_SOW.ctes(),
            _SOW.live("swh"),
            _SOW.rows("swr", "swh"),
            """sw_ranges AS (
  SELECT l.path, min(d.k) AS mn, max(d.k) AS mx
  FROM t_data d JOIN swh l ON ends_with(d.filename, l.path)
  GROUP BY l.path
)""",
        ],
        """SELECT
  (SELECT count(*) FROM sw_ranges WHERE 42 BETWEEN mn AND mx)
    AS files_scanned,
  (SELECT count(*) >= 4 FROM swh) AS many_files,
  (SELECT count(*) = 1 FROM sw_ranges WHERE 42 BETWEEN mn AND mx)
    AS pruned_all_but_one,
  (SELECT coalesce(bool_and(k >= prev), TRUE) FROM (
     SELECT d.k, lag(d.k) OVER (
       PARTITION BY d.filename ORDER BY d.file_row_number) AS prev
     FROM t_data d JOIN swh l ON ends_with(d.filename, l.path)
   ) WHERE prev IS NOT NULL) AS rows_sorted_in_file,
  (SELECT count(*) FROM swr WHERE k = 42) AS rows_k42""",
    ),
    tags=("lakehouse", "write", "clustering"),
    doc="Range distribution + table sort order (write.distribution-"
    "mode=range, WRITE ORDERED BY k): a SHUFFLED 4000-row append comes "
    "out as range-clustered, in-file-sorted parquet — a point lookup "
    "then scans 1 of 8 files from footer stats alone, on the very "
    "first write (no compaction pass needed). The write-time half of "
    "sort-strategy compaction. Second-engine checked (r12): pruning "
    "recomputes from true per-file data extents, sortedness from every "
    "file's row order.",
)
def lakehouse_sort_order_writes(spark: SparkSession, sf_dir: str) -> DataFrame:
    def run(lake: Lakehouse):
        t = lake.create_table(
            "lab.rangew",
            schema="k bigint, v string",
            properties={
                "write.distribution-mode": "range",
                "write.sort-order": "k",
                "write.target-file-size-bytes": "16384",
            },
        )
        # deliberately shuffled input: clustering must come from the writer
        t.append(
            spark.range(0, 4000)
            .select(
                F.pmod(F.col("id") * 2654435761, F.lit(4000)).alias("k"),
                F.concat(F.lit("v"), F.col("id")).alias("v"),
            )
            .repartition(8)
        )
        plan = t.scan_plan([("k", "=", 42)])
        # in-file sortedness: read one file raw and check ordering
        fi = sorted(t.log.state_at().values(), key=lambda f: f.path)[0]
        ks = [
            r.k
            for r in spark.read.parquet(f"{t.table_dir}/{fi.path}")
            .select("k")
            .collect()
        ]
        rows_k42 = t.read(filters=[("k", "=", 42)]).count()
        return (
            [
                (
                    plan["files_scanned"],
                    # file COUNT tracks the writer parallelism (env-
                    # dependent); the invariants are: many clustered
                    # files, a point lookup scans exactly one
                    bool(plan["files_total"] >= 4),
                    bool(plan["files_pruned"] == plan["files_total"] - 1),
                    ks == sorted(ks),
                    rows_k42,
                )
            ],
            "files_scanned bigint, many_files boolean, pruned_all_but_one boolean, "
            "rows_sorted_in_file boolean, rows_k42 bigint",
        )

    return _with_lake_2e(spark, "lakehouse_sort_order_writes", run)


@register(
    "lakehouse_tpch_q6_partitioned",
    # TRUE cross-engine oracle: plain TPC-H Q6 on the fixture — the
    # lakehouse round-trip (CTAS + hidden partitioning + pruned read)
    # must be semantically invisible
    oracle="""
        SELECT CAST(SUM(l_extendedprice * l_discount) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1994-01-01'
          AND l_shipdate < DATE '1995-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    tags=("lakehouse", "tpch", "partition", "composition"),
    doc="TPC-H Q6 served FROM a lakehouse-managed table: lineitem lands "
    "via CTAS under hidden year(l_shipdate) partitioning, and the Q6 "
    "date range resolves through PARTITION PRUNING before any Spark "
    "job (the scan touches one year's files) — the composition the "
    "whole engine exists for: managed tables + metadata planning "
    "serving standard analytics with identical answers.",
)
def lakehouse_tpch_q6_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"
    )

    def run(lake: Lakehouse):
        t = lake.create_table(
            "lab.lineitem_p",
            schema="l_shipdate timestamp, l_discount double, "
            "l_quantity double, l_extendedprice double",
            partition_by="year(l_shipdate)",
        )
        t.append(
            li.select(
                F.col("l_shipdate").cast("timestamp"),
                F.col("l_discount").cast("double"),
                F.col("l_quantity").cast("double"),
                F.col("l_extendedprice").cast("double"),
            )
        )
        lo, hi = _dt.datetime(1994, 1, 1), _dt.datetime(1995, 1, 1)
        plan = t.scan_plan([("l_shipdate", ">=", lo), ("l_shipdate", "<", hi)])
        assert plan["files_pruned_by_partition"] > 0  # pruning engaged
        df = (
            t.read(filters=[("l_shipdate", ">=", lo), ("l_shipdate", "<", hi)])
            .filter("l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")
            .agg(
                F.sum(F.col("l_extendedprice") * F.col("l_discount"))
                .cast("double")
                .alias("revenue")
            )
        )
        return [tuple(r) for r in df.collect()], "revenue double"

    return _with_lake(spark, run)


_MV_WH, _MV = _se("lakehouse_stream_matview", "lab.daily_counts")


@register(
    "lakehouse_stream_matview",
    # SECOND-ENGINE oracle (r12): the materialized per-window counts
    # recompute from the committed parquet VALUES (the post-MERGE rows
    # really carry the updated day-2 count), and exactly-once
    # recomputes as "exactly one commit carries stream batch 0".
    oracle=_se_oracle(
        _MV_WH,
        [*_MV.ctes(), _MV.live("mvh"), _MV.rows("mvr", "mvh")],
        """SELECT
  (SELECT count(*) FROM mvr) AS windows_after,
  (SELECT coalesce(max(n), -1) FROM mvr
    WHERE date_part('day', window_start) = 1) AS day1_count,
  (SELECT coalesce(max(n), -1) FROM mvr
    WHERE date_part('day', window_start) = 2) AS day2_count,
  (SELECT coalesce(max(n), -1) FROM mvr
    WHERE date_part('day', window_start) = 3) AS day3_count,
  (SELECT count(*) = 1 FROM t_main
    WHERE json_extract_string(extra, '$.stream_batch_id') = '0')
    AS replay_was_noop""",
    ),
    tags=("lakehouse", "streaming", "matview", "composition"),
    doc="Streaming MATERIALIZED VIEW into the lakehouse: an update-mode "
    "tumbling-window count stream upserts per-window rows via "
    "foreachBatch MERGE under the exactly-once batch watermark — a "
    "second drain carrying MORE day-2 events UPDATES the stored day-2 "
    "row in place while day-1 stands untouched. "
    "The lakehouse table IS the continuously-maintained aggregate; "
    "every epoch is one snapshot commit, replay is a no-op. "
    "Second-engine checked (r12): window counts recompute from the "
    "committed parquet, exactly-once from the batch-0 commit count.",
)
def lakehouse_stream_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _sh
    import tempfile as _tf

    from ..streaming.ingest import (
        STREAM_QUERY_KEY,
        last_committed_batch,
        merge_stream_batch,
    )

    def run(lake: Lakehouse):
        tmp = _tf.mkdtemp(prefix="matview_q_")
        try:
            t = lake.create_table(
                "lab.daily_counts", schema="window_start timestamp, n bigint"
            )
            src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"

            def feed(rows):
                local_df(spark, rows, "ts timestamp, user string").coalesce(
                    1
                ).write.mode("append").parquet(src)

            def drain():
                agg = (
                    spark.readStream.schema("ts timestamp, user string")
                    .parquet(src)
                    .withWatermark("ts", "0 seconds")
                    .groupBy(F.window("ts", "1 day").alias("w"))
                    .agg(F.count("*").alias("n"))
                    .select(F.col("w.start").alias("window_start"), "n")
                )

                def sink(batch_df, batch_id):
                    qid = "registry-matview"
                    for q in batch_df.sparkSession.streams.active:
                        if q.name == "registry-matview":
                            qid = f"registry-matview:{q.id}"
                    merge_stream_batch(
                        t, batch_df, batch_id, qid, key_cols=["window_start"]
                    )

                q = (
                    agg.writeStream.outputMode("update")
                    .foreachBatch(sink)
                    .queryName("registry-matview")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(120)

            import datetime as _dt

            d1, d2, d3 = (
                _dt.datetime(2024, 5, 1, 10),
                _dt.datetime(2024, 5, 2, 10),
                _dt.datetime(2024, 5, 3, 10),
            )
            feed([(d1, f"u{i}") for i in range(5)] + [(d2, "a"), (d2, "b")])
            drain()
            feed([(d2, "c"), (d2, "d"), (d3, "x")])
            drain()
            r = {row.window_start.day: row.n for row in t.read().collect()}
            qid = next(
                e.extra[STREAM_QUERY_KEY]
                for e in reversed(t.log.entries())
                if e.extra and e.extra.get(STREAM_QUERY_KEY)
            )
            replay = not merge_stream_batch(
                t, t.read().limit(1), 0, qid, key_cols=["window_start"]
            )
            return (
                [
                    (
                        len(r),
                        r.get(1, -1),
                        r.get(2, -1),
                        r.get(3, -1),
                        replay,
                    )
                ],
                "windows_after bigint, day1_count bigint, day2_count bigint, "
                "day3_count bigint, replay_was_noop boolean",
            )
        finally:
            _sh.rmtree(tmp, ignore_errors=True)

    return _with_lake_2e(spark, "lakehouse_stream_matview", run)
