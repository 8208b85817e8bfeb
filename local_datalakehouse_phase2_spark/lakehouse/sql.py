"""SQL front-end for the lakehouse: the reference runbook's statement
surface, executed against the local catalog + transaction log.

The reference's PRIMARY user interface is a `spark-sql` shell driving
Iceberg DDL, DML, metadata tables, and maintenance procedures
(/root/reference/SPARK_ICEBERG_GUIDE.md:36-340). Round 1 exposed all
of that as Python APIs only; this module closes the gap so a runbook
user can type the guide's own statements:

- CREATE NAMESPACE ... WITH PROPERTIES            (guide :88-93)
- CREATE TABLE ... USING iceberg TBLPROPERTIES    (:101-115)
- INSERT INTO ... VALUES / SELECT ... FROM RANGE  (:123-162)
- SELECT ... FROM <ns>.<t>.snapshots / .files     (:132-134, :171-191)
- SELECT ... FROM <ns>.<t> VERSION AS OF n        (:304-316 analog)
- ALTER TABLE ... SET TBLPROPERTIES               (:218-224, :324-328)
- CALL <cat>.system.<procedure>(arg => value,...) (:228-316)
- DELETE FROM / DESCRIBE / SHOW / SET / DROP

Architecture: this is a thin STATEMENT router, not a SQL engine.
Anything query-shaped is handed to Spark SQL (Catalyst does the real
work) after one rewrite pass that maps lakehouse table references to
registered temp views of the correct snapshot read. Only the few
statement forms Spark itself can't resolve against our log-backed
tables (CALL, INSERT-with-commit, metadata suffixes, time travel) are
parsed here, with regexes scoped to exactly the runbook grammar.

Scale: the router adds driver-side string work measured in
microseconds; every data-touching operation is the same distributed
plan the Python API produces (reads are `spark.read.parquet(<live
files>)`, writes are the sized snapshot-commit writer).
"""

from __future__ import annotations

import datetime as _dt
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import maintenance
from .catalog import CatalogError, Lakehouse
from .log import CommitConflictError
from .. import localrows
from ..localrows import local_df

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


class SqlError(RuntimeError):
    pass


def _strip(statement: str) -> str:
    """Drop line comments and the trailing semicolon."""
    lines = []
    for line in statement.splitlines():
        # naive '--' strip is safe for the runbook grammar: string
        # literals in it never contain '--'
        idx = line.find("--")
        if idx >= 0:
            line = line[:idx]
        lines.append(line)
    return " ".join(" ".join(lines).split()).rstrip(";").strip()


def _split_top_level(s: str) -> list[str]:
    """Split on commas not nested in parens or quotes."""
    out, depth, start, i, q = [], 0, 0, 0, None
    while i < len(s):
        c = s[i]
        if q:
            if c == q:
                q = None
        elif c in "'\"":
            q = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
        i += 1
    tail = s[start:].strip()
    if tail:
        out.append(tail)
    return out


def _parse_props(body: str) -> dict[str, str]:
    """'k'='v', 'k2'='v2'  ->  {k: v, ...}"""
    props = {}
    for part in _split_top_level(body):
        m = re.fullmatch(r"\s*'([^']*)'\s*=\s*'([^']*)'\s*", part)
        if not m:
            raise SqlError(f"bad property clause: {part!r}")
        props[m.group(1)] = m.group(2)
    return props


def _parse_filter_literal(raw: str):
    """A literal inside a scan_plan filter: like `_parse_value` but
    TIMESTAMP/DATE literals stay temporal (naive UTC) so they compare
    against logged column stats in the stats' own ISO encoding instead
    of collapsing to epoch floats."""
    raw = raw.strip()
    m = re.fullmatch(r"(?is)TIMESTAMP\s*'([^']+)'", raw)
    if m:
        return _dt.datetime.fromisoformat(m.group(1))
    m = re.fullmatch(r"(?is)DATE\s*'([^']+)'", raw)
    if m:
        return _dt.date.fromisoformat(m.group(1))
    return _parse_value(raw)


def _parse_filter_conjuncts(s: str) -> list[tuple]:
    """`col >= lit AND col2 = lit2 AND c3 IS NOT NULL AND c4 IN (...)`
    -> pruning filter triples. Conjunction only — exactly the fragment
    file-level stats can act on; anything richer belongs in the query
    itself, where Catalyst takes over."""
    out: list[tuple] = []
    for part in re.split(r"(?i)\s+AND\s+", s.strip()):
        part = part.strip()
        if not part:
            continue
        m = re.fullmatch(rf"(?is)({_IDENT})\s+IS\s+NOT\s+NULL", part)
        if m:
            out.append((m.group(1), "not_null", None))
            continue
        m = re.fullmatch(rf"(?is)({_IDENT})\s+IS\s+NULL", part)
        if m:
            out.append((m.group(1), "is_null", None))
            continue
        m = re.fullmatch(rf"(?is)({_IDENT})\s+IN\s*\((.*)\)", part)
        if m:
            vals = [_parse_filter_literal(v) for v in _split_top_level(m.group(2))]
            out.append((m.group(1), "in", vals))
            continue
        m = re.fullmatch(rf"(?s)\s*({_IDENT})\s*(>=|<=|!=|<>|=|<|>)\s*(.+)", part)
        if m:
            op = "!=" if m.group(2) == "<>" else m.group(2)
            out.append((m.group(1), op, _parse_filter_literal(m.group(3))))
            continue
        raise SqlError(f"unsupported filter conjunct: {part!r}")
    if not out:
        raise SqlError("scan_plan: empty filter")
    return out


def _parse_value(raw: str):
    """One procedure-argument value: string / int / float /
    TIMESTAMP 'utc literal' (-> epoch seconds) / map('k','v',...)."""
    raw = raw.strip()
    m = re.fullmatch(r"(?is)TIMESTAMP\s*'([^']+)'", raw)
    if m:
        dt = _dt.datetime.fromisoformat(m.group(1))
        # runbook timestamps are UTC (guide :42-44)
        return dt.replace(tzinfo=_dt.timezone.utc).timestamp()
    m = re.fullmatch(r"(?is)map\s*\((.*)\)", raw)
    if m:
        items = [_parse_value(p) for p in _split_top_level(m.group(1))]
        if len(items) % 2:
            raise SqlError(f"map() needs an even number of arguments: {raw!r}")
        return dict(zip(items[0::2], items[1::2]))
    m = re.fullmatch(r"(?is)array\s*\((.*)\)", raw)
    if m:
        return [_parse_value(p) for p in _split_top_level(m.group(1))]
    if raw.startswith("'") and raw.endswith("'"):
        return raw[1:-1]
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw)
    except ValueError:
        raise SqlError(f"cannot parse procedure argument value: {raw!r}")


class LakehouseSQL:
    """Statement router over a :class:`Lakehouse` catalog.

    `sql(statement)` accepts the runbook surface and always returns a
    DataFrame (DDL/DML return small result frames, like Spark's own
    `spark.sql` does for commands).
    """

    def __init__(self, lake: Lakehouse, catalog_name: str = "lakehouse"):
        self.lake = lake
        self.spark: SparkSession = lake.spark
        self.catalog_name = catalog_name
        self._view_n = 0
        # catalog-wide session ref (Nessie's `USE REFERENCE <name>`;
        # the reference pins spark.sql.catalog.nessie.ref in
        # spark-defaults.conf:9). None = main. While set, plain table
        # reads resolve as the catalog branch sees them and writes land
        # on the branch; explicit VERSION/TIMESTAMP AS OF and
        # branch_/tag_ suffixes stay explicit and override it. Metadata
        # suffix views (.snapshots/.files/...) stay TABLE-level: they
        # list the physical log — branch and stage entries included —
        # which is the auditing view a ref user wants, not a filtered
        # one (deliberate; SHOW TABLES and SHOW BRANCHES are ref-aware).
        self.session_ref: str | None = None

    # ---- public entry point ------------------------------------------

    def sql(self, statement: str) -> DataFrame:
        s = _strip(statement)
        if not s:
            raise SqlError("empty statement")
        head = s.split(None, 1)[0].upper()
        if head == "USE":
            if not re.match(r"(?is)USE\s+REFERENCE\b", s):
                # plain `USE <database>` is Spark's own session-catalog
                # switch — not a lakehouse statement; pass it through
                # untouched (only USE REFERENCE is ours)
                return self.spark.sql(s)
            m = re.fullmatch(r"(?is)USE\s+REFERENCE\s+([A-Za-z0-9_-]+)", s)
            if not m:
                raise SqlError(f"unsupported USE syntax: {s!r} (USE REFERENCE <name>)")
            name = m.group(1)
            if name.lower() == "main":
                self.session_ref = None
                return self._result_frame({"ref": "main"})
            if name not in self.lake.catalog_branches():
                raise SqlError(f"catalog ref {name!r} does not exist")
            self.session_ref = name
            return self._result_frame({"ref": name})
        if self.session_ref is not None and head in (
            "CREATE",
            "DROP",
            "ALTER",
            "TRUNCATE",
            "MERGE",
        ):
            # catalog branches version the CATALOG: CREATE TABLE and
            # DROP TABLE route to the branch (invisible on main until
            # the merge's marker flip — Nessie's canonical capability).
            # The REST of table metadata — schema evolution,
            # truncation, MERGE INTO's COW rewrite — stays main-
            # lineage-only in this log (branch writes cannot evolve
            # schema, table.py append); running one here would
            # silently mutate MAIN while the session claims a branch,
            # so those still refuse.
            handled = self._ref_ddl(s)
            if handled is not None:
                return handled
            raise SqlError(
                f"{head} is not supported under USE REFERENCE "
                f"{self.session_ref!r} — switch back with USE REFERENCE "
                "main first (catalog branches carry data commits and "
                "CREATE/DROP TABLE only)"
            )
        if head == "CALL":
            return self._call(s)
        if head == "INSERT":
            return self._insert(s)
        if head == "DELETE":
            return self._delete(s)
        if head == "UPDATE":
            return self._update(s)
        if head == "MERGE":
            return self._merge(s)
        if head == "CREATE":
            return self._create(s)
        if head == "ALTER":
            return self._alter(s)
        if head == "DROP":
            return self._drop(s)
        if head in ("DESCRIBE", "DESC"):
            return self._describe(s)
        if head == "SHOW":
            return self._show(s)
        if head == "TRUNCATE":
            m = re.fullmatch(
                rf"(?is)TRUNCATE\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})", s
            )
            if not m:
                raise SqlError(f"unsupported TRUNCATE syntax: {s!r}")
            t = self._table(self._strip_catalog(m.group(1)))
            # a snapshot commit like any other: time travel still sees
            # the pre-truncate data until expiry (Iceberg's TRUNCATE).
            # Dedicated path (not DELETE WHERE true): removes delete
            # files too, so no tombstone survives the truncate
            entry = t.truncate()
            return self._result_frame(
                {"snapshot_id": entry.snapshot_id, "operation": entry.operation}
            )
        if head == "SET":
            return self._set(s)
        # query-shaped: rewrite lakehouse refs to temp views, let
        # Catalyst take it from there
        return self.spark.sql(self._rewrite_refs(s))

    def _ref_ddl(self, s: str) -> DataFrame | None:
        """CREATE TABLE / CTAS / DROP TABLE under USE REFERENCE: route
        to the catalog-branch DDL (catalog_refs.create_table /
        drop_table). Returns None when the statement is not one of the
        supported ref-DDL shapes (caller refuses it)."""
        from .catalog_refs import CatalogRefError

        ref = self.session_ref
        m = re.fullmatch(
            rf"(?is)CREATE\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})"
            rf"\s*\((.*?)\)(?:\s+USING\s+{_IDENT})?"
            rf"(?:\s+PARTITIONED\s+BY\s*\((.*?)\))?(?:\s+TBLPROPERTIES\s*\((.*)\))?",
            s,
        )
        if m:
            ident = self._strip_catalog(m.group(1))
            try:
                t = self.lake.create_table_on_branch(
                    ident,
                    ref,
                    schema=", ".join(_split_top_level(m.group(2))),
                    properties=_parse_props(m.group(4)) if m.group(4) else None,
                    partition_by=m.group(3),
                )
            except (CatalogError, CatalogRefError) as e:
                raise SqlError(str(e)) from e
            return self._result_frame(
                {"table": ident, "ref": ref, "location": t.table_dir}
            )
        m = re.fullmatch(
            rf"(?is)CREATE\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})"
            rf"(?:\s+USING\s+{_IDENT})?(?:\s+PARTITIONED\s+BY\s*\((.*?)\))?"
            rf"(?:\s+TBLPROPERTIES\s*\((.*?)\))?\s+AS\s+(SELECT\s+.*)",
            s,
        )
        if m:
            ident = self._strip_catalog(m.group(1))
            src = self.spark.sql(self._rewrite_refs(m.group(4)))
            try:
                self.lake.create_table_on_branch(
                    ident,
                    ref,
                    schema=", ".join(
                        f"`{f.name}` {f.dataType.simpleString()}"
                        for f in src.schema.fields
                    ),
                    properties=_parse_props(m.group(3)) if m.group(3) else None,
                    partition_by=m.group(2),
                )
                entry = self.lake.append(ident, src, catalog_ref=ref)
            except (CatalogError, CatalogRefError) as e:
                raise SqlError(str(e)) from e
            return self._result_frame(
                {
                    "table": ident,
                    "ref": ref,
                    "created": True,
                    "snapshot_id": entry.snapshot_id,
                }
            )
        m = re.fullmatch(
            rf"(?is)DROP\s+TABLE\s+(IF\s+EXISTS\s+)?((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})",
            s,
        )
        if m:
            ident = self._strip_catalog(m.group(2))
            try:
                self.lake.drop_table_on_branch(ident, ref)
            except (CatalogError, CatalogRefError) as e:
                if m.group(1):
                    return self._result_frame(
                        {"table": ident, "ref": ref, "dropped": False}
                    )
                raise SqlError(str(e)) from e
            return self._result_frame({"table": ident, "ref": ref, "dropped": True})
        return None

    def _table(self, identifier: str):
        """Router-level table resolution. Under an active USE REFERENCE
        the session may address branch-created tables (no main lineage
        yet) — ref-record checks (_pin_of / dropped tombstones) then
        govern visibility; on main, such tables do not exist."""
        return self.lake.table(identifier, any_lineage=self.session_ref is not None)

    def _session_branch(self, t, branch: str | None) -> str | None:
        """Route a write onto the session catalog ref when USE
        REFERENCE is active and the statement gave no explicit
        branch_ suffix (explicit suffixes override the session ref,
        like explicit time travel does for reads). Lazily creates the
        table's per-table branch at the catalog fork pin."""
        if branch is not None or self.session_ref is None:
            return branch
        from .catalog_refs import CatalogRefError

        try:
            return self.lake._catalog_refs.ensure_member(
                t.identifier, self.session_ref
            )
        except CatalogRefError as e:
            raise SqlError(str(e)) from e

    # ---- reference rewriting -----------------------------------------

    def _fresh_view(self, df: DataFrame, hint: str) -> str:
        self._view_n += 1
        name = f"__lh_{hint}_{self._view_n}"
        df.createOrReplaceTempView(name)
        return name

    def _identifiers(self) -> list[str]:
        out = []
        any_lineage = self.session_ref is not None
        for ns in self.lake.namespaces():
            # under USE REFERENCE, branch-created tables (no main
            # lineage yet) must resolve too — the ref record governs
            # actual visibility downstream
            out.extend(
                f"{ns}.{t}" for t in self.lake.tables(ns, any_lineage=any_lineage)
            )
        return out

    def _rewrite_refs(self, s: str, _depth: int = 0) -> str:
        """Map every `[catalog.]ns.table[.snapshots|.files]` and
        time-travel suffix onto a temp view of the right DataFrame.

        Longest-match first so `ns.t.files` never half-matches as
        `ns.t`. Views are registered only for tables the statement
        actually references.
        """
        if _depth > 8:
            raise SqlError("view expansion too deep (cyclic view definitions?)")
        # catalog views first: a view name expands to its (recursively
        # rewritten) definition before table matching, so views may
        # reference tables AND other views
        for ns in self.lake.namespaces():
            for v in self.lake.views(ns):
                base = rf"(?:{re.escape(self.catalog_name)}\.)?{re.escape(ns)}\.{re.escape(v)}"
                if re.search(rf"(?i)\b{base}\b", s):
                    body = self._rewrite_refs(self.lake.view_sql(f"{ns}.{v}"), _depth + 1)
                    view = self._fresh_view(self.spark.sql(body), f"{ns}_{v}_view")
                    s = re.sub(rf"(?i)\b{base}\b", view, s)
        for ident in self._identifiers():
            ns, tbl = ident.split(".", 1)
            base = rf"(?:{re.escape(self.catalog_name)}\.)?{re.escape(ns)}\.{re.escape(tbl)}"
            if not re.search(rf"(?i)\b{base}\b", s):
                continue
            t = self._table(ident)
            # metadata suffixes (longest first: `position_deletes` and
            # `all_files` must never half-match as `files`)
            for suffix, frame in (
                ("position_deletes", t.position_deletes),
                ("all_files", t.all_files),
                ("snapshots", t.snapshots),
                ("entries", t.entries),
                ("history", t.history),
                ("files", t.files),
                ("refs", t.refs),
                ("partitions", t.partitions),
            ):
                pat = rf"(?i)\b{base}\.{suffix}\b"
                if re.search(pat, s):
                    view = self._fresh_view(frame(), f"{ns}_{tbl}_{suffix}")
                    s = re.sub(pat, view, s)
            # Iceberg branch/tag identifiers: ns.t.branch_<name> /
            # ns.t.tag_<name> read at the ref — the SQL spelling of
            # read(ref=...) (Iceberg resolves the same suffixes). Must
            # substitute BEFORE the plain-base match, which would
            # otherwise swallow the `ns.t` prefix of the longer form.
            def _ref_suffix_sub(m: re.Match) -> str:
                kind, name = m.group(1).lower(), m.group(2)
                actual = t.log.refs().get(name, {}).get("kind")
                if actual is not None and actual != kind:
                    raise SqlError(
                        f"ref {name!r} is a {actual}, not a {kind} — "
                        f"use {ns}.{tbl}.{actual}_{name}"
                    )
                try:
                    df = t.read(ref=name)
                except ValueError as e:
                    raise SqlError(str(e)) from e
                return self._fresh_view(df, f"{ns}_{tbl}_refsfx")

            s = re.sub(
                rf"(?i)\b{base}\.(branch|tag)_([A-Za-z0-9_-]+)\b",
                _ref_suffix_sub,
                s,
            )

            # time travel: VERSION AS OF n | 'ref' | TIMESTAMP AS OF ...
            def _version_sub(m: re.Match) -> str:
                return self._fresh_view(
                    t.read(version=int(m.group(1))), f"{ns}_{tbl}_v"
                )

            def _ref_sub(m: re.Match) -> str:
                try:
                    df = t.read(ref=m.group(1))
                except ValueError as e:
                    raise SqlError(str(e)) from e
                return self._fresh_view(df, f"{ns}_{tbl}_ref")

            def _tstamp_sub(m: re.Match) -> str:
                epoch = _parse_value(f"TIMESTAMP '{m.group(1)}'")
                return self._fresh_view(t.read(as_of=epoch), f"{ns}_{tbl}_ts")

            s = re.sub(rf"(?i)\b{base}\s+VERSION\s+AS\s+OF\s+(\d+)\b", _version_sub, s)
            s = re.sub(
                rf"(?i)\b{base}\s+VERSION\s+AS\s+OF\s+'([A-Za-z0-9._-]+)'", _ref_sub, s
            )
            s = re.sub(
                rf"(?i)\b{base}\s+TIMESTAMP\s+AS\s+OF\s+(?:TIMESTAMP\s+)?'([^']+)'",
                _tstamp_sub,
                s,
            )
            # plain current-snapshot reference — under USE REFERENCE
            # it resolves as the catalog branch sees the table
            # (branch lineage if written there, else the fork pin)
            if re.search(rf"(?i)\b{base}\b", s):
                if self.session_ref is not None:
                    from .catalog_refs import CatalogRefError

                    try:
                        df = self.lake.read(ident, catalog_ref=self.session_ref)
                    except CatalogRefError as e:
                        raise SqlError(str(e)) from e
                else:
                    df = t.read()
                view = self._fresh_view(df, f"{ns}_{tbl}")
                s = re.sub(rf"(?i)\b{base}\b", view, s)
        return s

    # ---- CALL procedures (guide :228-316) ----------------------------

    def _call(self, s: str) -> DataFrame:
        m = re.fullmatch(
            rf"(?is)CALL\s+(?:{_IDENT}\.)?system\.({_IDENT})\s*\((.*)\)",
            s,
        )
        if not m:
            raise SqlError(f"unsupported CALL syntax: {s!r}")
        proc, body = m.group(1).lower(), m.group(2)
        args: dict[str, object] = {}
        for part in _split_top_level(body):
            if not part:
                continue
            am = re.fullmatch(rf"(?s)\s*({_IDENT})\s*=>\s*(.*)", part)
            if not am:
                raise SqlError(f"procedure arguments must be name => value: {part!r}")
            args[am.group(1).lower()] = _parse_value(am.group(2))
        # catalog-level procedures (the Nessie branch model): no
        # table => argument — they operate on the WHOLE catalog
        if proc in (
            "create_branch",
            "drop_branch",
            "create_tag",
            "drop_tag",
            "merge_catalog_branch",
            "rebase_catalog_branch",
        ):
            from .catalog_refs import CatalogRefError

            if "name" not in args:
                raise SqlError(f"CALL {proc}: missing name => argument")
            name = str(args.pop("name"))
            drop_conflicting = (
                bool(args.pop("drop_conflicting", False))
                if proc == "rebase_catalog_branch"
                else False
            )
            if args:
                raise SqlError(f"CALL {proc}: unexpected arguments {sorted(args)}")
            try:
                if proc == "create_branch":
                    rec = self.lake.create_branch(name)
                    return self._result_frame(
                        {"ref": name, "pinned_tables": len(rec["pins"])}
                    )
                if proc == "create_tag":
                    rec = self.lake.create_tag(name)
                    return self._result_frame(
                        {"tag": name, "pinned_tables": len(rec["pins"])}
                    )
                if proc in ("drop_branch", "drop_tag"):
                    self.lake.drop_branch(name)
                    if self.session_ref == name:
                        self.session_ref = None
                    return self._result_frame({"ref": name, "dropped": True})
                if proc == "rebase_catalog_branch":
                    res = self.lake.rebase_catalog_branch(
                        name, drop_conflicting=drop_conflicting
                    )
                    return self._result_frame(
                        {
                            "ref": name,
                            "rebased_tables": res["rebased_tables"],
                            "dropped_commits": sum(
                                len(v) for v in res["dropped_commits"].values()
                            ),
                        }
                    )
                res = self.lake.merge_catalog_branch(name)
                return self._result_frame(
                    {
                        "ref": name,
                        "merged_tables": res["merged_tables"],
                        "merged_commits": res["merged_commits"],
                    }
                )
            except (CatalogRefError, CommitConflictError) as e:
                raise SqlError(str(e)) from e
        if self.session_ref is not None:
            # per-table procedures operate on MAIN lineage (compaction,
            # expiry, rollback, per-table branch plumbing) — running
            # one while the session claims a catalog branch would be
            # misleading; only the catalog-level three are ref-safe
            raise SqlError(
                f"CALL {proc} is not supported under USE REFERENCE "
                f"{self.session_ref!r} — switch back with USE REFERENCE main"
            )
        if "table" not in args:
            raise SqlError(f"CALL {proc}: missing table => argument")
        if proc == "snapshot":
            # creates the table — must not resolve it first
            if "source_dir" not in args:
                raise SqlError("snapshot: missing source_dir => argument")
            try:
                result = maintenance.snapshot_table(
                    self.lake, str(args.pop("source_dir")), str(args.pop("table"))
                )
            except (maintenance.MaintenanceError, CatalogError) as e:
                raise SqlError(str(e)) from e
            if args:
                raise SqlError(f"CALL snapshot: unexpected arguments {sorted(args)}")
            return self._result_frame(result)
        table = self._table(str(args.pop("table")))
        options = args.pop("options", {})
        if not isinstance(options, dict):
            raise SqlError("options => must be a map(...)")

        if proc == "rewrite_data_files":
            # Iceberg option names (guide :234-238); unrecognized
            # options are accepted and ignored, as Iceberg does for
            # strategy-specific knobs we don't need locally.
            result = maintenance.rewrite_data_files(
                table,
                target_file_size_bytes=int(
                    options.get(
                        "target-file-size-bytes", maintenance.DEFAULT_TARGET_FILE_SIZE
                    )
                ),
                min_input_files=int(options.get("min-input-files", 1)),
                min_file_size_bytes=(
                    int(options["min-file-size-bytes"])
                    if "min-file-size-bytes" in options
                    else None
                ),
                max_file_size_bytes=(
                    int(options["max-file-size-bytes"])
                    if "max-file-size-bytes" in options
                    else None
                ),
                max_file_group_size_bytes=int(
                    options.get(
                        "max-file-group-size-bytes",
                        maintenance.DEFAULT_MAX_FILE_GROUP_SIZE,
                    )
                ),
                max_concurrent_file_group_rewrites=int(
                    options.get("max-concurrent-file-group-rewrites", 1)
                ),
                partial_progress_enabled=(
                    str(options.get("partial-progress.enabled", "false")).lower()
                    == "true"
                ),
                # Iceberg top-level procedure args, not options-map keys
                strategy=str(args.pop("strategy", "binpack")),
                sort_order=(
                    str(args.pop("sort_order")) if "sort_order" in args else None
                ),
            )
        elif proc == "rewrite_manifests":
            result = maintenance.rewrite_manifests(table)
        elif proc == "expire_snapshots":
            result = maintenance.expire_snapshots(
                table,
                retain_last=_opt_int(args, "retain_last"),
                older_than=_opt_float(args, "older_than"),
            )
        elif proc == "remove_orphan_files":
            result = maintenance.remove_orphan_files(
                table, older_than=_opt_float(args, "older_than")
            )
        elif proc == "rollback_to_snapshot":
            if "snapshot_id" not in args:
                raise SqlError("rollback_to_snapshot: missing snapshot_id =>")
            result = maintenance.rollback_to_snapshot(table, int(args.pop("snapshot_id")))
        elif proc == "rollback_to_timestamp":
            if "timestamp" not in args:
                raise SqlError("rollback_to_timestamp: missing timestamp =>")
            result = maintenance.rollback_to_timestamp(
                table, float(args.pop("timestamp"))
            )
        elif proc == "set_current_snapshot":
            if "snapshot_id" not in args:
                raise SqlError("set_current_snapshot: missing snapshot_id =>")
            result = maintenance.set_current_snapshot(table, int(args.pop("snapshot_id")))
        elif proc == "cherrypick_snapshot":
            if "snapshot_id" not in args:
                raise SqlError("cherrypick_snapshot: missing snapshot_id =>")
            result = maintenance.cherrypick_snapshot(table, int(args.pop("snapshot_id")))
        elif proc == "publish_changes":
            if "wap_id" not in args:
                raise SqlError("publish_changes: missing wap_id =>")
            result = maintenance.publish_changes(table, str(args.pop("wap_id")))
        elif proc == "merge_branch":
            # Nessie's merge (the service behind the reference's
            # `ref=main` catalog pin): publish a branch's commits onto
            # main as one conflict-validated commit
            if "branch" not in args:
                raise SqlError("merge_branch: missing branch => argument")
            try:
                result = maintenance.merge_branch(table, str(args.pop("branch")))
            except ValueError as e:
                raise SqlError(str(e)) from e
        elif proc == "rebase_branch":
            # Nessie's content-aware rebase: re-anchor a branch at a
            # newer main snapshot, validating (or selectively dropping)
            # its commit chain — the recovery flow for a conflicted merge
            if "branch" not in args:
                raise SqlError("rebase_branch: missing branch => argument")
            try:
                res = maintenance.rebase_branch(
                    table,
                    str(args.pop("branch")),
                    onto=_opt_int(args, "onto"),
                    drop_conflicting=bool(args.pop("drop_conflicting", False)),
                )
            except ValueError as e:
                raise SqlError(str(e)) from e
            result = {
                "branch": res["branch"],
                "new_base": res["new_base"],
                "kept_commits": res["kept_commits"],
                "dropped_commits": len(res["dropped_commits"]),
            }
        elif proc == "scan_plan":
            # observability for stats-based scan planning: how many
            # files would a filtered read open? (Iceberg exposes the
            # same through its scan-report metrics)
            if "filter" not in args:
                raise SqlError("scan_plan: missing filter => argument")
            result = table.scan_plan(_parse_filter_conjuncts(str(args.pop("filter"))))
        elif proc == "fast_forward":
            # Iceberg's fast_forward procedure: advance a branch to a
            # snapshot (default: current head)
            if "branch" not in args:
                raise SqlError("fast_forward: missing branch => argument")
            try:
                ref = table.fast_forward(
                    str(args.pop("branch")), to=_opt_int(args, "to")
                )
            except ValueError as e:
                raise SqlError(str(e)) from e
            result = {"ref": ref["name"], "snapshot_id": ref["snapshot_id"]}
        elif proc == "create_changelog_view":
            # Iceberg's CDC procedure: register the row-level changelog
            # over a snapshot range as a temp view (guide-stack CDC
            # consumers then query it like any relation)
            view = str(args.pop("changelog_view", f"{table.identifier.replace('.', '_')}_changes"))
            start = options.get("start-snapshot-id")
            end = options.get("end-snapshot-id")
            ids = args.pop("identifier_columns", None)
            if ids is not None and not isinstance(ids, list):
                raise SqlError("identifier_columns => must be an array(...)")
            first = table.log.versions()[0] if table.log.versions() else 0
            df = table.read_changelog(
                from_version=int(start) if start is not None else first,
                to_version=int(end) if end is not None else None,
                identifier_columns=[str(c) for c in ids] if ids else None,
            )
            df.createOrReplaceTempView(view)
            result = {"changelog_view": view}
        elif proc == "ancestors_of":
            # Iceberg's ancestors_of: the current-lineage chain from a
            # snapshot (default: head) back through rollback jumps
            start = _opt_int(args, "snapshot_id")
            hist = {r.snapshot_id: r for r in table.history().collect()}
            cur = start if start is not None else (max(hist) if hist else None)
            if cur is not None and cur not in hist:
                raise SqlError(f"ancestors_of: snapshot {cur} not in history")
            chain = []
            while cur is not None and cur in hist:
                chain.append((cur, hist[cur].made_current_at))
                cur = hist[cur].parent_id
            return localrows.collected_df(
                self.spark, chain, "snapshot_id long, made_current_at timestamp"
            )
        elif proc == "add_files":
            # Iceberg's bulk-adoption procedure: existing parquet joins
            # the table as a snapshot commit, zero rewrite
            if "source_dir" not in args:
                raise SqlError("add_files: missing source_dir => argument")
            try:
                result = maintenance.add_files(table, str(args.pop("source_dir")))
            except maintenance.MaintenanceError as e:
                raise SqlError(str(e)) from e
        elif proc == "rewrite_position_deletes":
            result = maintenance.rewrite_position_deletes(table)
        elif proc == "rewrite_equality_deletes":
            result = maintenance.rewrite_equality_deletes(table)
        else:
            raise SqlError(f"unknown procedure: {proc}")
        if args:
            raise SqlError(f"CALL {proc}: unexpected arguments {sorted(args)}")
        return self._result_frame(result)

    def _result_frame(self, result: dict) -> DataFrame:
        fields, row = [], []
        for k, v in result.items():
            if isinstance(v, bool):
                fields.append(T.StructField(k, T.BooleanType()))
            elif isinstance(v, int):
                fields.append(T.StructField(k, T.LongType()))
            elif isinstance(v, float):
                fields.append(T.StructField(k, T.DoubleType()))
            else:
                fields.append(T.StructField(k, T.StringType()))
                v = None if v is None else str(v)
            row.append(v)
        return local_df(self.spark, [tuple(row)], T.StructType(fields))

    # ---- DML ----------------------------------------------------------

    def _insert(self, s: str) -> DataFrame:
        m = re.fullmatch(
            rf"(?is)INSERT\s+(INTO|OVERWRITE(?:\s+TABLE)?)\s+"
            rf"((?:{_IDENT}\.)?{_IDENT}\.{_IDENT}(?:\.{_IDENT})?)\s+(VALUES\s+.*|SELECT\s+.*)",
            s,
        )
        if not m:
            raise SqlError(f"unsupported INSERT syntax: {s!r}")
        overwrite = m.group(1).upper().startswith("OVERWRITE")
        # Iceberg branch write: INSERT INTO ns.t.branch_<name> targets
        # the branch lineage (invisible on main until merge_branch).
        # A literal table whose name starts with branch_ wins: the
        # suffix interpretation only applies when the full identifier
        # does not resolve as a table.
        ident, branch = m.group(2), None
        try:
            t = self._table(self._strip_catalog(ident))
        except (CatalogError, SqlError):
            parts = ident.split(".")
            bm = re.fullmatch(r"branch_([A-Za-z0-9_-]+)", parts[-1])
            if bm is None or len(parts) < 3:
                raise
            branch = bm.group(1)
            t = self._table(self._strip_catalog(".".join(parts[:-1])))
        branch = self._session_branch(t, branch)
        body = m.group(3)
        if body[:6].upper() == "VALUES":
            src = self.spark.sql(f"SELECT * FROM ({body})")
        else:
            src = self.spark.sql(self._rewrite_refs(body))
        # positional alignment to the table schema, like SQL INSERT
        schema = t.schema() or t._schema()
        if len(schema.fields) != len(src.columns):
            raise SqlError(
                f"INSERT has {len(src.columns)} columns, table has {len(schema.fields)}"
            )
        aligned = src.selectExpr(
            *[
                f"CAST(`{c}` AS {f.dataType.simpleString()}) AS `{f.name}`"
                for c, f in zip(src.columns, schema.fields)
            ]
        )
        if overwrite:
            # Which partitions does INSERT OVERWRITE replace? Same knob
            # as Spark/Iceberg: `spark.sql.sources.partitionOverwriteMode`
            # — STATIC (the Spark default, and the reference stack's
            # behavior at /root/reference/spark/conf/spark-defaults.conf,
            # which never overrides it) replaces the WHOLE table;
            # DYNAMIC replaces only the partitions the new data touches
            # (the idempotent-backfill semantics Iceberg recommends
            # enabling). Unpartitioned tables always fully replace.
            mode = (
                self.spark.conf.get(
                    "spark.sql.sources.partitionOverwriteMode", "static"
                )
                or "static"
            ).lower()
            try:
                if branch is not None:
                    if t.partition_spec() and mode == "dynamic":
                        raise SqlError(
                            "dynamic partition overwrite is not supported on a "
                            "branch; overwrite the branch fully or merge first"
                        )
                    entry = t.overwrite(aligned, ref=branch)
                else:
                    entry = (
                        t.overwrite_partitions(aligned)
                        if t.partition_spec() and mode == "dynamic"
                        else t.overwrite(aligned)
                    )
            except ValueError as e:
                raise SqlError(str(e)) from e
        else:
            try:
                entry = t.append(aligned, ref=branch)
            except ValueError as e:
                raise SqlError(str(e)) from e
        return self._result_frame(
            {"snapshot_id": entry.snapshot_id, "added_files": len(entry.added_files)}
        )

    def _delete(self, s: str) -> DataFrame:
        m = re.fullmatch(
            rf"(?is)DELETE\s+FROM\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT}(?:\.{_IDENT})?)"
            rf"(?:\s+WHERE\s+(.*))?",
            s,
        )
        if not m:
            raise SqlError(f"unsupported DELETE syntax: {s!r}")
        # DELETE FROM ns.t.branch_<name>: row-level delete on the branch
        # lineage (copy-on-write; invisible on main until merge_branch)
        ident, branch = m.group(1), None
        try:
            t = self._table(self._strip_catalog(ident))
        except (CatalogError, SqlError):
            parts = ident.split(".")
            bm = re.fullmatch(r"branch_([A-Za-z0-9_-]+)", parts[-1])
            if bm is None or len(parts) < 3:
                raise
            branch = bm.group(1)
            t = self._table(self._strip_catalog(".".join(parts[:-1])))
        branch = self._session_branch(t, branch)
        # bare DELETE FROM t = delete every row (SQL standard)
        try:
            entry = t.delete_where(
                m.group(2) if m.group(2) else "true",
                mode="copy-on-write" if branch else None,
                ref=branch,
            )
        except ValueError as e:
            raise SqlError(str(e)) from e
        return self._result_frame(
            {"snapshot_id": entry.snapshot_id, "operation": entry.operation}
        )

    def _update(self, s: str) -> DataFrame:
        m = re.fullmatch(
            rf"(?is)UPDATE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT}(?:\.{_IDENT})?)\s+"
            rf"SET\s+(.*?)(?:\s+WHERE\s+(.*))?",
            s,
        )
        if not m:
            raise SqlError(f"unsupported UPDATE syntax: {s!r}")
        # UPDATE ns.t.branch_<name> SET ...: branch-lineage update
        ident, branch = m.group(1), None
        try:
            t = self._table(self._strip_catalog(ident))
        except (CatalogError, SqlError):
            parts = ident.split(".")
            bm = re.fullmatch(r"branch_([A-Za-z0-9_-]+)", parts[-1])
            if bm is None or len(parts) < 3:
                raise
            branch = bm.group(1)
            t = self._table(self._strip_catalog(".".join(parts[:-1])))
        branch = self._session_branch(t, branch)
        assignments: dict[str, str] = {}
        for part in _split_top_level(m.group(2)):
            am = re.fullmatch(rf"(?s)\s*({_IDENT})\s*=\s*(.+?)\s*", part)
            if not am:
                raise SqlError(f"bad SET clause: {part!r}")
            assignments[am.group(1)] = am.group(2)
        # bare UPDATE t SET ... = update every row (SQL standard)
        try:
            entry = t.update_where(
                assignments,
                m.group(3) if m.group(3) else "true",
                mode="copy-on-write" if branch else None,
                ref=branch,
            )
        except ValueError as e:
            raise SqlError(str(e)) from e
        return self._result_frame(
            {"snapshot_id": entry.snapshot_id, "operation": entry.operation}
        )

    _MERGE_CLAUSE_RE = re.compile(
        r"(?is)WHEN\s+(NOT\s+)?MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+"
        r"(UPDATE\s+SET\s+.+?|DELETE|INSERT\s+.+?)"
        r"(?=\s+WHEN\s+(?:NOT\s+)?MATCHED\b|\s*$)"
    )

    def _merge(self, s: str) -> DataFrame:
        """MERGE INTO ... USING ... ON <equi-keys> with the full WHEN
        grammar (Iceberg v2's row-level MERGE):

        - WHEN MATCHED [AND cond] THEN UPDATE SET * | SET col = expr, ...
        - WHEN MATCHED [AND cond] THEN DELETE
        - WHEN NOT MATCHED [AND cond] THEN INSERT * | INSERT (cols) VALUES (exprs)

        The canonical full-row 'UPDATE SET * / INSERT *' upsert (the
        runbook's shape) takes the fast path through
        LakehouseTable.merge; everything else lowers onto merge_when,
        which applies first-matching-clause semantics in one
        copy-on-write joined projection."""
        m = re.match(
            rf"(?is)MERGE\s+INTO\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})(?:\s+AS\s+({_IDENT}))?"
            rf"\s+USING\s+(.+?)(?:\s+AS\s+({_IDENT}))?"
            rf"\s+ON\s+(.+?)"
            rf"(?=\s+WHEN\s+(?:NOT\s+)?MATCHED\b)(.*)",
            s,
        )
        if not m:
            raise SqlError(f"unsupported MERGE syntax: {s!r}")
        target_ident, t_alias, src_ref, s_alias, on, when_body = m.groups()
        t = self._table(self._strip_catalog(target_ident))
        source = self.spark.sql(self._rewrite_refs(f"SELECT * FROM {src_ref}"))
        # SQL scoping: an explicit alias REPLACES the base name as the
        # side's qualifier (FROM tbl AS t makes `tbl.col` invalid), so
        # each side has exactly one qualifier — never both alias and
        # base name, which would make self-merges ambiguous
        t_quals = {t_alias} if t_alias else {target_ident.split(".")[-1]}
        s_quals = {s_alias} if s_alias else {src_ref.split(".")[-1]}
        if t_quals & s_quals:
            # same qualifier on both sides (e.g. a self-merge without
            # aliases): `q.col` rewriting would be ambiguous —
            # first-substitution-wins would silently turn target refs
            # into source refs
            raise SqlError(
                f"ambiguous MERGE qualifiers {sorted(t_quals & s_quals)}: give "
                "the target and source distinct aliases (AS t / AS s)"
            )
        # ON must be a conjunction of same-column equality predicates:
        # t.k = s.k [AND ...] — that is what COW merge keys on
        key_cols = []
        for clause in re.split(r"(?i)\s+AND\s+", on.strip()):
            em = re.fullmatch(
                rf"\s*(?:({_IDENT})\.)?({_IDENT})\s*=\s*(?:({_IDENT})\.)?({_IDENT})\s*",
                clause,
            )
            if not em or em.group(2) != em.group(4):
                raise SqlError(
                    f"MERGE ON must be same-column equality (a.k = b.k), got {clause!r}"
                )
            for q in (em.group(1), em.group(3)):
                if q and q not in (t_quals | s_quals):
                    raise SqlError(f"unknown qualifier {q!r} in MERGE ON clause")
            key_cols.append(em.group(2))

        def _outside_literals(expr: str, fn) -> str:
            """Apply `fn` only to the segments of `expr` OUTSIDE
            single-quoted string literals — a qualifier-shaped substring
            inside 's.x' is data, not a column reference."""
            parts = re.split(r"('(?:[^']|'')*')", expr)
            return "".join(p if i % 2 else fn(p) for i, p in enumerate(parts))

        def rw_matched(expr: str) -> str:
            """Alias-qualified refs -> merge_when's joined-frame names:
            target.<c> stays bare, source.<c> becomes __src_<c>."""

            def rw(seg: str) -> str:
                for q in s_quals:
                    seg = re.sub(rf"(?i)\b{re.escape(q)}\.({_IDENT})", r"__src_\1", seg)
                for q in t_quals:
                    seg = re.sub(rf"(?i)\b{re.escape(q)}\.({_IDENT})", r"\1", seg)
                return seg

            return _outside_literals(expr, rw)

        def rw_source(expr: str) -> str:
            """NOT MATCHED expressions see only the source row."""

            def rw(seg: str) -> str:
                for q in t_quals:
                    if re.search(rf"(?i)\b{re.escape(q)}\.{_IDENT}", seg):
                        raise SqlError(
                            f"WHEN NOT MATCHED cannot reference the target ({expr!r})"
                        )
                for q in s_quals:
                    seg = re.sub(rf"(?i)\b{re.escape(q)}\.({_IDENT})", r"\1", seg)
                return seg

            return _outside_literals(expr, rw)

        matched: list[tuple[str | None, str, dict[str, str] | None]] = []
        not_matched: tuple[str | None, dict[str, str] | None] | None = None
        star_update = star_insert = False
        clauses = list(self._MERGE_CLAUSE_RE.finditer(when_body))
        if not clauses or self._MERGE_CLAUSE_RE.sub("", when_body).strip():
            raise SqlError(f"unparseable MERGE WHEN clauses: {when_body!r}")
        for c in clauses:
            is_not, cond, action = c.group(1), c.group(2), c.group(3).strip()
            if is_not:
                if not_matched is not None:
                    raise SqlError("multiple WHEN NOT MATCHED clauses not supported")
                im = re.fullmatch(r"(?is)INSERT\s+\*", action)
                if im:
                    star_insert = cond is None
                    not_matched = (rw_source(cond) if cond else None, None)
                    continue
                im = re.fullmatch(
                    r"(?is)INSERT\s*\((.*?)\)\s*VALUES\s*\((.*)\)", action
                )
                if not im:
                    raise SqlError(f"unsupported INSERT form in MERGE: {action!r}")
                cols = [x.strip() for x in _split_top_level(im.group(1))]
                vals = [rw_source(x.strip()) for x in _split_top_level(im.group(2))]
                if len(cols) != len(vals):
                    raise SqlError("INSERT column/value count mismatch in MERGE")
                if len(set(cols)) != len(cols):
                    raise SqlError(f"duplicate INSERT column in MERGE: {cols}")
                not_matched = (
                    rw_source(cond) if cond else None,
                    dict(zip(cols, vals)),
                )
            else:
                rcond = rw_matched(cond) if cond else None
                if re.fullmatch(r"(?is)DELETE", action):
                    matched.append((rcond, "delete", None))
                    continue
                um = re.fullmatch(r"(?is)UPDATE\s+SET\s+(.*)", action)
                if not um:
                    raise SqlError(f"unsupported MATCHED action in MERGE: {action!r}")
                body = um.group(1).strip()
                if body == "*":
                    star_update = cond is None
                    # full-row assignment: every target column from source
                    schema = t.schema() or t._schema()
                    matched.append(
                        (rcond, "update", {f.name: f"__src_{f.name}" for f in schema.fields})
                    )
                    continue
                assigns: dict[str, str] = {}
                for part in _split_top_level(body):
                    am = re.fullmatch(
                        rf"(?s)\s*(?:{_IDENT}\.)?({_IDENT})\s*=\s*(.+?)\s*", part
                    )
                    if not am:
                        raise SqlError(f"bad SET clause in MERGE: {part!r}")
                    assigns[am.group(1)] = rw_matched(am.group(2))
                matched.append((rcond, "update", assigns))

        if star_update and star_insert and len(matched) == 1 and len(clauses) == 2:
            entry = t.merge(source, key_cols)  # canonical upsert fast path
        else:
            entry = t.merge_when(source, key_cols, matched, not_matched)
        return self._result_frame(
            {"snapshot_id": entry.snapshot_id, "operation": entry.operation}
        )

    # ---- DDL ----------------------------------------------------------

    def _strip_catalog(self, ident: str) -> str:
        parts = ident.split(".")
        if len(parts) == 3:
            if parts[0] != self.catalog_name:
                raise SqlError(
                    f"unknown catalog {parts[0]!r} (this session serves {self.catalog_name!r})"
                )
            parts = parts[1:]
        return ".".join(parts)

    def _create(self, s: str) -> DataFrame:
        m = re.fullmatch(
            rf"(?is)CREATE\s+NAMESPACE\s+(IF\s+NOT\s+EXISTS\s+)?((?:{_IDENT}\.)?{_IDENT})"
            rf"(?:\s+WITH\s+(?:DB)?PROPERTIES\s*\((.*)\))?",
            s,
        )
        if m:
            name = self._strip_ns_catalog(m.group(2))
            self.lake.create_namespace(
                name,
                properties=_parse_props(m.group(3)) if m.group(3) else None,
                if_not_exists=bool(m.group(1)),
            )
            return self._result_frame({"namespace": name, "created": True})
        m = re.fullmatch(
            rf"(?is)CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})"
            rf"\s*\((.*?)\)(?:\s+USING\s+{_IDENT})?"
            rf"(?:\s+PARTITIONED\s+BY\s*\((.*?)\))?(?:\s+TBLPROPERTIES\s*\((.*)\))?",
            s,
        )
        if m:
            ident = self._strip_catalog(m.group(2))
            cols = ", ".join(_split_top_level(m.group(3)))
            t = self.lake.create_table(
                ident,
                schema=cols,
                properties=_parse_props(m.group(5)) if m.group(5) else None,
                if_not_exists=bool(m.group(1)),
                partition_by=m.group(4),
            )
            return self._result_frame({"table": ident, "location": t.table_dir})
        # CTAS: CREATE TABLE t [USING fmt] [TBLPROPERTIES (...)] AS SELECT ...
        # — the first statement a runbook user writes past DDL: schema
        # comes from the query, data lands as the table's first append
        # (one snapshot), properties (e.g. write.target-file-size-bytes)
        # take effect BEFORE the write so they shape it.
        m = re.fullmatch(
            rf"(?is)CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})"
            rf"(?:\s+USING\s+{_IDENT})?(?:\s+PARTITIONED\s+BY\s*\((.*?)\))?"
            rf"(?:\s+TBLPROPERTIES\s*\((.*?)\))?\s+AS\s+(SELECT\s+.*)",
            s,
        )
        if m:
            ident = self._strip_catalog(m.group(2))
            if_not_exists = bool(m.group(1))
            if if_not_exists and self._table_exists(ident):
                # SQL CTAS IF NOT EXISTS: table stands, query NOT run
                return self._result_frame({"table": ident, "created": False})
            src = self.spark.sql(self._rewrite_refs(m.group(5)))
            t = self.lake.create_table(
                ident,
                # backtick-quote: an unaliased projection yields names
                # like `upper(v)` that a bare DDL string cannot parse
                schema=", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in src.schema.fields
                ),
                properties=_parse_props(m.group(4)) if m.group(4) else None,
                partition_by=m.group(3),
            )
            entry = t.append(src)
            return self._result_frame(
                {
                    "table": ident,
                    "created": True,
                    "snapshot_id": entry.snapshot_id,
                    "added_files": len(entry.added_files),
                }
            )
        # catalog views (the Nessie view-catalog analog): the RAW query
        # text persists in the warehouse; expansion happens at reference
        # time so a view always reads the CURRENT table state
        m = re.fullmatch(
            rf"(?is)CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+"
            rf"((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})\s+AS\s+(SELECT\s+.*)",
            s,
        )
        if m:
            ident = self._strip_catalog(m.group(2))
            body = m.group(3).strip()
            # fail fast on an invalid definition: expand + analyze once
            self.spark.sql(self._rewrite_refs(body)).schema
            try:
                self.lake.create_view(ident, body, replace=bool(m.group(1)))
            except CatalogError as e:
                raise SqlError(str(e)) from e
            return self._result_frame({"view": ident, "created": True})
        raise SqlError(f"unsupported CREATE syntax: {s!r}")

    def _table_exists(self, ident: str) -> bool:
        ns, tbl = ident.split(".", 1)
        try:
            return tbl in self.lake.tables(ns)
        except Exception:
            return False

    def _strip_ns_catalog(self, ident: str) -> str:
        parts = ident.split(".")
        if len(parts) == 2:
            if parts[0] != self.catalog_name:
                raise SqlError(f"unknown catalog {parts[0]!r}")
            parts = parts[1:]
        return parts[0]

    def _alter(self, s: str) -> DataFrame:
        m = re.fullmatch(
            rf"(?is)ALTER\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})\s+SET\s+TBLPROPERTIES\s*\((.*)\)",
            s,
        )
        if m:
            t = self._table(self._strip_catalog(m.group(1)))
            entry = t.set_properties(_parse_props(m.group(2)))
            return self._result_frame({"snapshot_id": entry.snapshot_id})
        m = re.fullmatch(
            rf"(?is)ALTER\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})\s+ADD\s+COLUMNS?\s*\(?\s*({_IDENT})\s+([A-Za-z0-9_()]+)\s*\)?",
            s,
        )
        if m:
            t = self._table(self._strip_catalog(m.group(1)))
            entry = t.add_column(m.group(2), m.group(3))
            return self._result_frame({"snapshot_id": entry.snapshot_id})
        # Iceberg branch/tag DDL: ALTER TABLE t CREATE BRANCH|TAG name
        # [AS OF VERSION n]; ALTER TABLE t DROP BRANCH|TAG name
        m = re.fullmatch(
            rf"(?is)ALTER\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})\s+"
            rf"CREATE\s+(BRANCH|TAG)\s+([A-Za-z0-9._-]+)"
            rf"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?",
            s,
        )
        if m:
            t = self._table(self._strip_catalog(m.group(1)))
            kind = m.group(2).lower()
            at = int(m.group(4)) if m.group(4) else None
            try:
                ref = (t.create_branch if kind == "branch" else t.create_tag)(
                    m.group(3), at=at
                )
            except ValueError as e:
                raise SqlError(str(e)) from e
            return self._result_frame(
                {"ref": ref["name"], "type": kind.upper(), "snapshot_id": ref["snapshot_id"]}
            )
        m = re.fullmatch(
            rf"(?is)ALTER\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})\s+"
            rf"DROP\s+(?:BRANCH|TAG)\s+([A-Za-z0-9._-]+)",
            s,
        )
        if m:
            t = self._table(self._strip_catalog(m.group(1)))
            try:
                t.drop_ref(m.group(2))
            except ValueError as e:
                raise SqlError(str(e)) from e
            return self._result_frame({"ref": m.group(2), "dropped": True})
        m = re.fullmatch(
            rf"(?is)ALTER\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})\s+"
            rf"DROP\s+COLUMNS?\s*\(?\s*({_IDENT})\s*\)?",
            s,
        )
        if m:
            t = self._table(self._strip_catalog(m.group(1)))
            try:
                entry = t.drop_column(m.group(2))
            except ValueError as e:
                raise SqlError(str(e)) from e
            return self._result_frame({"snapshot_id": entry.snapshot_id})
        # Iceberg column rename: ALTER TABLE t RENAME COLUMN old TO new
        m = re.fullmatch(
            rf"(?is)ALTER\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})\s+"
            rf"RENAME\s+COLUMN\s+({_IDENT})\s+TO\s+({_IDENT})",
            s,
        )
        if m:
            t = self._table(self._strip_catalog(m.group(1)))
            try:
                entry = t.rename_column(m.group(2), m.group(3))
            except ValueError as e:
                raise SqlError(str(e)) from e
            return self._result_frame({"snapshot_id": entry.snapshot_id})
        # Iceberg sort order DDL: ALTER TABLE t WRITE ORDERED BY (c1
        # [desc], ...) | WRITE UNORDERED -> the write.sort-order
        # property the writer applies before every unshaped write
        m = re.fullmatch(
            rf"(?is)ALTER\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})\s+"
            rf"WRITE\s+ORDERED\s+BY\s+\(?\s*([^()]+?)\s*\)?",
            s,
        )
        if m:
            t = self._table(self._strip_catalog(m.group(1)))
            entry = t.set_properties({"write.sort-order": m.group(2).strip()})
            return self._result_frame({"snapshot_id": entry.snapshot_id})
        m = re.fullmatch(
            rf"(?is)ALTER\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})\s+WRITE\s+UNORDERED",
            s,
        )
        if m:
            t = self._table(self._strip_catalog(m.group(1)))
            entry = t.set_properties({"write.sort-order": ""})
            return self._result_frame({"snapshot_id": entry.snapshot_id})
        # Iceberg spec evolution: ALTER TABLE t ADD|DROP PARTITION FIELD
        # <transform> — metadata-only; new writes use the evolved spec,
        # old files keep pruning through the spec history
        m = re.fullmatch(
            rf"(?is)ALTER\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})\s+"
            rf"(ADD|DROP)\s+PARTITION\s+FIELD\s+(.+)",
            s,
        )
        if m:
            t = self._table(self._strip_catalog(m.group(1)))
            try:
                if m.group(2).upper() == "ADD":
                    entry = t.add_partition_field(m.group(3).strip())
                else:
                    entry = t.drop_partition_field(m.group(3).strip())
            except ValueError as e:
                raise SqlError(str(e)) from e
            return self._result_frame({"snapshot_id": entry.snapshot_id})
        raise SqlError(f"unsupported ALTER syntax: {s!r}")

    def _drop(self, s: str) -> DataFrame:
        m = re.fullmatch(
            rf"(?is)DROP\s+VIEW\s+(IF\s+EXISTS\s+)?((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})", s
        )
        if m:
            ident = self._strip_catalog(m.group(2))
            try:
                self.lake.drop_view(ident)
            except CatalogError:
                if m.group(1):
                    return self._result_frame({"view": ident, "dropped": False})
                raise
            return self._result_frame({"view": ident, "dropped": True})
        m = re.fullmatch(
            rf"(?is)DROP\s+TABLE\s+(IF\s+EXISTS\s+)?((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})", s
        )
        if not m:
            raise SqlError(f"unsupported DROP syntax: {s!r}")
        ident = self._strip_catalog(m.group(2))
        try:
            self._table(ident)
        except CatalogError:
            if m.group(1):
                return self._result_frame({"table": ident, "dropped": False})
            raise
        try:
            self.lake.drop_table(ident)
        except CatalogError as e:  # e.g. pinned by a catalog ref/tag
            raise SqlError(str(e)) from e
        return self._result_frame({"table": ident, "dropped": True})

    def _describe(self, s: str) -> DataFrame:
        m = re.fullmatch(
            rf"(?is)DESC(?:RIBE)?\s+TABLE\s+(EXTENDED\s+)?((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})",
            s,
        )
        if m:
            info = self.lake.describe_table(self._strip_catalog(m.group(2)))
            t = self._table(self._strip_catalog(m.group(2)))
            schema = t.schema() or t._schema()
            rows = [(f.name, f.dataType.simpleString(), "") for f in schema.fields]
            if m.group(1):  # EXTENDED: Spark-style detail section
                rows.append(("", "", ""))
                rows.append(("# Detailed Table Information", "", ""))
                rows.append(("Location", info["location"], ""))
                rows.append(("Current Snapshot", str(info["current_snapshot_id"]), ""))
                rows.append(("Snapshots", str(info["snapshots"]), ""))
                for k, v in sorted(info["properties"].items()):
                    rows.append((f"Property: {k}", v, ""))
            return local_df(self.spark, 
                rows, "col_name string, data_type string, comment string"
            )
        m = re.fullmatch(
            rf"(?is)DESC(?:RIBE)?\s+NAMESPACE\s+(?:EXTENDED\s+)?((?:{_IDENT}\.)?{_IDENT})", s
        )
        if m:
            info = self.lake.describe_namespace(self._strip_ns_catalog(m.group(1)))
            rows = [("Namespace Name", info["name"])] + [
                (f"Property: {k}", v) for k, v in sorted(info["properties"].items())
            ]
            return local_df(self.spark, rows, "info_name string, info_value string")
        raise SqlError(f"unsupported DESCRIBE syntax: {s!r}")

    def _show(self, s: str) -> DataFrame:
        if re.fullmatch(rf"(?is)SHOW\s+NAMESPACES(?:\s+IN\s+{_IDENT})?", s):
            return local_df(self.spark, 
                [(ns,) for ns in self.lake.namespaces()], "namespace string"
            )
        if re.fullmatch(r"(?is)SHOW\s+(?:BRANCHES|REFERENCES)", s):
            # catalog-wide refs (Nessie's LIST REFERENCES): the session
            # ref is flagged so USE REFERENCE state is inspectable
            rows = [
                (
                    name,
                    len(rec.get("pins", {})),
                    bool(rec.get("pending_merge")),
                    name == self.session_ref,
                )
                for name, rec in sorted(self.lake.catalog_branches().items())
                if rec.get("kind", "branch") == "branch"
            ]
            return local_df(self.spark, 
                rows or [],
                "ref string, pinned_tables bigint, merge_in_progress boolean, "
                "is_session_ref boolean",
            )
        if re.fullmatch(r"(?is)SHOW\s+TAGS", s):
            # immutable whole-warehouse pins (Nessie catalog tags)
            rows = [
                (name, len(rec.get("pins", {})), name == self.session_ref)
                for name, rec in sorted(self.lake.catalog_branches().items())
                if rec.get("kind", "branch") == "tag"
            ]
            return local_df(self.spark, 
                rows or [],
                "tag string, pinned_tables bigint, is_session_ref boolean",
            )
        m = re.fullmatch(rf"(?is)SHOW\s+TABLES\s+IN\s+(?:{_IDENT}\.)?({_IDENT})", s)
        if m:
            ns = m.group(1)
            names = self.lake.tables(ns)
            if self.session_ref is not None:
                # on a catalog ref only fork-pinned tables exist — a
                # table created on main after the fork is invisible,
                # a branch-CREATED table is visible here (and only
                # here), and a branch-dropped one is tombstoned out
                rec = self.lake.catalog_branches().get(self.session_ref)
                if rec is None:
                    # another process dropped the catalog branch after
                    # this session's USE REFERENCE — surface it in the
                    # same error discipline as the read/write paths
                    raise SqlError(
                        f"catalog ref {self.session_ref!r} no longer exists"
                    )
                pins = rec["pins"]
                dropped = set(rec.get("dropped", []))
                names = sorted(
                    {t for t in names if f"{ns}.{t}" in pins}
                    | {
                        i.split(".", 1)[1]
                        for i in rec.get("created", {})
                        if i.startswith(ns + ".")
                    }
                )
                names = [t for t in names if f"{ns}.{t}" not in dropped]
            return local_df(self.spark, 
                [(ns, t) for t in names] or [],
                "namespace string, tableName string",
            )
        m = re.fullmatch(
            rf"(?is)SHOW\s+TBLPROPERTIES\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})"
            rf"(?:\s*\(\s*'([^']+)'\s*\))?",
            s,
        )
        if m:
            t = self._table(self._strip_catalog(m.group(1)))
            props = t.properties()
            if m.group(2) is not None:
                rows = [(m.group(2), props.get(m.group(2)))]
            else:
                rows = sorted(props.items())
            return local_df(self.spark, 
                rows or [], "key string, value string"
            )
        m = re.fullmatch(rf"(?is)SHOW\s+VIEWS\s+IN\s+(?:{_IDENT}\.)?({_IDENT})", s)
        if m:
            ns = m.group(1)
            try:
                views = self.lake.views(ns)
            except CatalogError as e:
                raise SqlError(str(e)) from e
            return local_df(self.spark, 
                [(ns, v) for v in views] or [], "namespace string, viewName string"
            )
        if re.fullmatch(r"(?is)SHOW\s+CATALOGS", s):
            return local_df(self.spark, 
                [(self.catalog_name,), ("spark_catalog",)], "catalog string"
            )
        m = re.fullmatch(
            rf"(?is)SHOW\s+CREATE\s+TABLE\s+((?:{_IDENT}\.)?{_IDENT}\.{_IDENT})", s
        )
        if m:
            # reconstructed from the log's CURRENT schema + spec +
            # properties (Spark's SHOW CREATE TABLE does the same from
            # catalog metadata — the statement round-trips)
            ident = self._strip_catalog(m.group(1))
            t = self._table(ident)
            schema = t.schema() or t._schema()
            cols = ",\n  ".join(
                f"{f.name} {f.dataType.simpleString().upper()}"
                for f in schema.fields
            )
            stmt = (
                f"CREATE TABLE {self.catalog_name}.{ident} (\n  {cols})\n"
                "USING iceberg"
            )
            props = dict(t.properties())
            spec = props.pop("partition.spec", None)
            if spec:
                stmt += f"\nPARTITIONED BY ({spec})"
            if props:
                stmt += "\nTBLPROPERTIES (\n  " + ",\n  ".join(
                    f"'{k}'='{v}'" for k, v in sorted(props.items())
                ) + ")"
            return local_df(self.spark, [(stmt,)], "createtab_stmt string")
        raise SqlError(f"unsupported SHOW syntax: {s!r}")

    def _set(self, s: str) -> DataFrame:
        m = re.fullmatch(r"(?is)SET\s+([\w.]+)\s*=\s*(\S+)", s)
        if not m:
            raise SqlError(f"unsupported SET syntax: {s!r}")
        self.spark.conf.set(m.group(1), m.group(2))
        return local_df(self.spark, 
            [(m.group(1), m.group(2))], "key string, value string"
        )


def _opt_int(args: dict, key: str) -> int | None:
    v = args.pop(key, None)
    return None if v is None else int(v)


def _opt_float(args: dict, key: str) -> float | None:
    v = args.pop(key, None)
    return None if v is None else float(v)
