"""Rows in hand: the one module that decides whether rows are few
enough to hold on the driver, with one cap per cost.

- `VALUES_MAX` (500) bounds rows that re-enter Spark as SQL text:
  `local_df` renders them as a ``VALUES`` SELECT and falls back to
  `spark.createDataFrame` past it (the text would be megabytes), or
  for types it does not render (structs).
- `WRITE_MAX` (10,000) bounds rows a lakehouse commit collects to write
  with pyarrow (`lakehouse/fastwrite.py`) instead of the Spark writer.
  Every bounded probe (`collect_at_most`: `limit(cap + 1)`) uses it.

A LocalRelation's rows are in hand already (`is_local_relation`,
`held_rows`: collecting runs no job). Whether a warehouse takes
driver-side writes depends on the table's IO, so that check stays in
`lakehouse/table.py`.

`spark.createDataFrame(rows, schema)` parallelizes pickled rows into
``defaultParallelism`` Python-runner partitions — on local[32], 32
Python workers plus a shuffle for a 20-row frame (~280 ms to collect,
~500 ms to write). `local_df`'s VALUES plan is a LocalRelation — pure
JVM, single partition, no Python runner (~17 ms collect, ~180 ms
write; see r12 notes) — for the metadata views, SQL result frames and
lifecycle verification rows. Every literal renders round-trippable
(repr for floats, microsecond timestamps, hex for binary) and each
column is CAST to its declared type, so results are value-identical
to createDataFrame; the oracle hash gate re-proved that for every
registry entry. Nullability is exact too: declared non-null fields
(every lakehouse metadata view's schema) stay non-null, and a None in
one falls back to the createDataFrame error it raises. A naive
timestamp renders in the session zone (UTC), so rows a `collect()`
returned, whose naive timestamps are in the driver's zone, re-enter
through `collected_df`.
"""

from __future__ import annotations

import datetime as _dt
import math
from decimal import Decimal

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

VALUES_MAX = 500  # rows rendered as SQL VALUES text
WRITE_MAX = 10_000  # rows collected and written with pyarrow

# (session id, schema simpleString) -> the empty-LocalRelation frame.
# Empty frames are pure values (immutable plan, no data), so one parse
# per schema per session serves every caller — lifecycle entries build
# the same empty shapes repeatedly (changelog per-version diffs,
# delete-all survivors) and the spark.sql parse is a py4j round trip
# each time otherwise.
_EMPTY_MEMO: dict = {}

# non-null placeholder per type for the empty frame's dummy row (the
# row is filtered out; it only fixes each column's nullability)
_PLACEHOLDER = {
    T.BooleanType: False,
    T.ByteType: 0,
    T.ShortType: 0,
    T.IntegerType: 0,
    T.LongType: 0,
    T.FloatType: 0.0,
    T.DoubleType: 0.0,
    T.DecimalType: 0,
    T.StringType: "",
    T.BinaryType: b"",
    T.DateType: _dt.date(1970, 1, 1),
    T.TimestampType: _dt.datetime(1970, 1, 1),
    T.TimestampNTZType: _dt.datetime(1970, 1, 1),
    T.ArrayType: (),
    T.MapType: {},
}

__all__ = [
    "VALUES_MAX", "WRITE_MAX", "collect_at_most", "collected_df", "held_rows",
    "is_local_relation", "local_df",
]


def _schema_of(schema: T.StructType | str) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    return T.StructType.fromDDL(schema)


class _Unrenderable(Exception):
    pass


def _lit(v, dt: T.DataType) -> str:
    """Render one Python value as a Spark SQL literal of `dt`."""
    if v is None:
        return "NULL"
    if isinstance(dt, T.BooleanType):
        return "TRUE" if v else "FALSE"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return str(int(v))
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        f = float(v)
        if math.isnan(f):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(f):
            return f"CAST('{'Infinity' if f > 0 else '-Infinity'}' AS DOUBLE)"
        return repr(f)  # shortest round-trip repr parses back exactly
    if isinstance(dt, T.DecimalType):
        return f"CAST({Decimal(v)} AS {dt.simpleString().upper()})"
    if isinstance(dt, T.StringType):
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    if isinstance(dt, T.BinaryType):
        return f"X'{bytes(v).hex()}'"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:  # session TZ is UTC (session.py)
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            kw = "TIMESTAMP_NTZ" if isinstance(dt, T.TimestampNTZType) else "TIMESTAMP"
            return f"{kw} '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
        raise _Unrenderable(type(v))
    if isinstance(dt, T.DateType):
        if isinstance(v, _dt.date):
            return f"DATE '{v.isoformat()}'"
        raise _Unrenderable(type(v))
    if isinstance(dt, T.ArrayType):
        if isinstance(v, (list, tuple)):
            inner = ", ".join(_lit(e, dt.elementType) for e in v)
            return f"ARRAY({inner})"
        raise _Unrenderable(type(v))
    if isinstance(dt, T.MapType):
        if isinstance(v, dict):
            if not v:
                kt = dt.keyType.simpleString()
                vt = dt.valueType.simpleString()
                return f"CAST(MAP() AS MAP<{kt}, {vt}>)"
            parts = []
            for k, mv in v.items():
                parts.append(_lit(k, dt.keyType))
                parts.append(_lit(mv, dt.valueType))
            return f"MAP({', '.join(parts)})"
        raise _Unrenderable(type(v))
    raise _Unrenderable(dt)  # structs etc. -> fallback


def _casts(sch: T.StructType) -> str:
    """The SELECT list that types VALUES columns col1..colN as `sch`.
    A nullable field is wrapped in IF(true, x, NULL), which marks it
    nullable at analysis time (an all-literal VALUES column would
    otherwise come out non-nullable); the optimizer folds the IF away
    before execution. A non-null field gets a bare CAST, so it stays
    non-null exactly when every rendered value is non-null — a None
    there leaves the output nullable, and the caller's schema check
    falls back to createDataFrame, which raises on it."""
    return ", ".join(
        f"CAST({f'IF(true, col{i}, NULL)' if f.nullable else f'col{i}'} "
        f"AS {f.dataType.simpleString()}) AS `{f.name}`"
        for i, f in enumerate(sch.fields, 1)
    )


def local_df(
    spark: SparkSession, rows, schema: T.StructType | str
) -> DataFrame:
    """A DataFrame of literal `rows` with `schema`, built as a pure-JVM
    LocalRelation (VALUES SELECT) when possible — single partition, no
    Python runners — else the plain `spark.createDataFrame` path.

    `rows` are positional (tuple / list / Row). Intended for SMALL
    frames (metadata views, result rows, fixture feeds); row lists
    longer than `VALUES_MAX` fall back."""
    sch = _schema_of(schema)
    rows = list(rows)
    if len(rows) > VALUES_MAX:
        return spark.createDataFrame(rows, sch)
    types = [f.dataType for f in sch.fields]
    if not rows:
        # empty frame as a LocalRelation too (r16): `createDataFrame([],
        # sch)` builds a LogicalRDD whose every action runs a 32-task
        # job over nothing, and the fastwrite gate can't claim it. A
        # WHERE-false VALUES folds to LocalRelation <empty> at analysis
        # time — collect is free and an empty commit write takes the
        # pyarrow path (one empty schema-bearing file, like Spark).
        # Memoized per (session, schema): empty frames are pure values.
        key = (id(spark), sch.json())  # json: nullability-exact
        memo = _EMPTY_MEMO.get(key)
        if memo is not None:
            return memo
        try:
            # non-null fields need a non-null dummy to stay non-null
            dummy = ", ".join(
                _lit(_PLACEHOLDER[type(f.dataType)], f.dataType)
                if not f.nullable
                else "NULL"
                for f in sch.fields
            )
        except (KeyError, _Unrenderable):
            return spark.createDataFrame(rows, sch)
        out = spark.sql(
            f"SELECT {_casts(sch)} FROM VALUES ({dummy}) WHERE false"
        )
        if out.schema != sch:
            return spark.createDataFrame(rows, sch)
        while len(_EMPTY_MEMO) >= 256:
            try:  # concurrent threads may race the eviction; a missed
                _EMPTY_MEMO.pop(next(iter(_EMPTY_MEMO)))  # pop is fine
            except (KeyError, StopIteration):
                break
        _EMPTY_MEMO[key] = out
        return out
    try:
        rendered = []
        for r in rows:
            if isinstance(r, Row):
                r = tuple(r)
            if not isinstance(r, (tuple, list)) or len(r) != len(types):
                raise _Unrenderable(type(r))
            rendered.append(
                "(" + ", ".join(_lit(v, t) for v, t in zip(r, types)) + ")"
            )
    except _Unrenderable:
        return spark.createDataFrame(rows, sch)
    out = spark.sql(f"SELECT {_casts(sch)} FROM VALUES {', '.join(rendered)}")
    if out.schema != sch:  # a None in a non-null field etc. — stay exact
        return spark.createDataFrame(rows, sch)
    return out


def _driver_zone(v, dt: T.DataType):
    """A collected value with the driver's zone attached to its naive
    instants (astimezone()'s naive-input behavior, as in
    `fastwrite._convert`)."""
    if isinstance(dt, T.TimestampType) and v is not None and v.tzinfo is None:
        return v.astimezone()
    if isinstance(dt, T.ArrayType) and v is not None:
        return [_driver_zone(e, dt.elementType) for e in v]
    return v


def collected_df(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """`local_df` of rows a `collect()` returned: PySpark hands back
    TimestampType values as naive datetimes in the driver's zone, so
    they get that zone to re-enter Spark as the same instants."""
    sch = _schema_of(schema)
    types = [f.dataType for f in sch.fields]
    return local_df(spark, [tuple(map(_driver_zone, r, types)) for r in rows], sch)


def is_local_relation(plan) -> bool:
    """True for a LocalRelation logical plan: rows the driver already
    holds, so collecting them runs no Spark job."""
    return plan.getClass().getSimpleName() == "LocalRelation"


def held_rows(df: DataFrame) -> list | None:
    """`df`'s rows when its optimized plan is a LocalRelation (every
    `local_df` product), collected without a job; else None."""
    if not is_local_relation(df._jdf.queryExecution().optimizedPlan()):
        return None
    return df.collect()


def collect_at_most(df: DataFrame, cap: int) -> list | None:
    """`df`'s rows when it has at most `cap` of them, else None, from
    one bounded scan. What an op matches, not what it reads, decides;
    a match over `cap` costs this probe on top of the distributed
    path."""
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None
