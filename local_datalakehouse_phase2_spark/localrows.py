"""Single-partition, JVM-only DataFrames from small literal row lists.

`spark.createDataFrame(rows, schema)` parallelizes pickled rows into
``defaultParallelism`` Python-runner partitions — on local[32] that is
32 Python workers plus a shuffle for a 20-row frame, measured ~280 ms
to collect and ~500 ms to write. The engine builds hundreds of such
frames: metadata views (snapshots/files/history), SQL result frames
(SHOW/DESCRIBE/CALL), and the lifecycle queries' verification rows.

`local_df` renders the same rows as a ``VALUES`` SELECT instead: the
plan is a LocalRelation — pure JVM, single partition, no Python
runner, no shuffle (~17 ms collect, ~180 ms write; see r12 notes).
Exactness: every literal renders round-trippable (repr for floats,
microsecond timestamps, hex for binary), and each column is CAST to
its declared type, so results are value-identical to the
createDataFrame spelling — the oracle hash gate re-proved that for
every registry entry when this swapped in. Nullability is exact too:
nullable fields come out nullable and declared non-null fields (every
lakehouse metadata view's schema) stay non-null, so those frames stay
on the VALUES path; only a None in a non-null field falls back, to the
createDataFrame error it raises.

At 100 TB this matters for none of the data path (real data never
routes through literal rows) but keeps the *metadata* path — the thing
a 1000-executor job hits once per commit — off the Python-runner slow
path. Rows beyond `_MAX_ROWS` (SQL text would be megabytes) and types
we don't render (structs) fall back to `spark.createDataFrame`.
"""

from __future__ import annotations

import datetime as _dt
import math
from decimal import Decimal

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

_MAX_ROWS = 500

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

__all__ = ["local_df"]


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
    longer than 500 fall back."""
    sch = _schema_of(schema)
    rows = list(rows)
    if len(rows) > _MAX_ROWS:
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
