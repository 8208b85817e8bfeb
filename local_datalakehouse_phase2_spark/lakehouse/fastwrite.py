"""Driver-side parquet writer for commits whose rows the driver holds.

A lakehouse commit of a driver-known frame (metadata rows, lifecycle
fixtures, SQL result feeds — every `localrows.local_df` product) does
not need a Spark job at all: the rows already live on the driver, and
`df.write.parquet` spends its ~180-200 ms floor on job scheduling plus
the Hadoop committer's temporary-directory rename dance, not on IO.
This module converts such a frame's collected rows straight to pyarrow
parquet (~5 ms) — one file, or one file per hash partition when the
frame is `repartition(n, cols)` over a LocalRelation (r15:
`spark_partition_ids` reproduces Spark's Murmur3 placement bit-exactly
so even row->file assignment matches the Spark writer) — preserving
everything the engine and the DuckDB second engine read back:

- value fidelity: types map 1:1 (TimestampType written as INT96, as
  Spark's writer does; collected naive datetimes are interpreted in
  the driver's local zone exactly as PySpark rendered them);
- footer stats: pyarrow records the same per-column min/max/null-count
  metrics `TableFile._scan_written` harvests into FileInfo for scan
  pruning;
- row order: collect order == stored order, so file_row_number-based
  position deletes planned later against the file stay valid.

`LakehouseTable._write_files` decides when the rows are in hand (see
`localrows`): a LocalRelation-backed frame, or a rewrite whose logged
row bound is at most `localrows.WRITE_MAX`, on a plain-local
warehouse with no partition spec, distribution-mode none and no sort
order. Its `_write_rows` writes data and position-delete files through
this module alike, and falls back to the Spark writer for anything
`rows_to_arrow` returns None for or any file over the target size.
Empty frames write ONE empty schema-bearing file, matching Spark's
FileFormatWriter special case. At 100 TB the path never carries more
than `WRITE_MAX` rows of a commit, but a 1000-executor pipeline's
per-commit METADATA writes and small row-level rewrites stop paying a
cluster job each.
"""

from __future__ import annotations

import datetime as _dt

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import types as T

__all__ = ["rows_to_arrow", "write_rows", "spark_partition_ids"]


def _arrow_type(dt: T.DataType) -> pa.DataType | None:
    """Arrow type for a Spark type, or None when the fast path should
    not claim the write (structs/maps — the Spark writer handles them
    with semantics we'd rather not re-derive)."""
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.ByteType):
        return pa.int8()
    if isinstance(dt, T.ShortType):
        return pa.int16()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, T.TimestampType):
        # Spark TimestampType is an instant; `write_rows` stores it as
        # the same deprecated INT96 physical type Spark's writer emits,
        # so every reader types the column identically to a
        # Spark-written file (DuckDB renders INT96 as naive TIMESTAMP —
        # a MICROS/adjustedToUTC column would render TIMESTAMPTZ and
        # change oracle value hashes)
        return pa.timestamp("us", tz="UTC")
    if isinstance(dt, T.TimestampNTZType):
        # NTZ under the INT96 flag would round-trip as an instant —
        # wrong type; leave NTZ frames to the Spark writer
        return None
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    if isinstance(dt, T.ArrayType):
        inner = _arrow_type(dt.elementType)
        return pa.list_(inner) if inner is not None else None
    return None


def _convert(v, dt: T.DataType):
    """Map one collected Python value to its arrow-ingestible form."""
    if v is None:
        return None
    if isinstance(dt, T.TimestampType):
        # PySpark collect renders instants as NAIVE datetimes in the
        # driver's local zone; astimezone() re-attaches that zone (its
        # documented naive-input behavior), making the instant exact
        # under any host TZ before arrow normalizes it to UTC
        if v.tzinfo is None:
            v = v.astimezone()
        v = v.astimezone(_dt.timezone.utc)
        if v.year < 1900:
            # INT96 files without Spark's writer-version footer key hit
            # Spark's unknown-writer int96 rebase heuristic on read: an
            # ancient instant could raise SparkUpgradeException or
            # rebase differently than a Spark-written file. Decline the
            # fast path (ValueError -> rows_to_arrow returns None).
            raise ValueError("pre-1900 timestamp: leave to the Spark writer")
        return v
    if isinstance(dt, T.DateType):
        if v.year < 1583:
            # proleptic-vs-hybrid calendar rebase applies to ancient
            # dates the same way; decline rather than re-derive it
            raise ValueError("pre-1583 date: leave to the Spark writer")
        return v
    if isinstance(dt, T.ArrayType):
        return [_convert(e, dt.elementType) for e in v]
    return v


# ---- Spark-exact hash partitioning (r15) ------------------------------
# `df.repartition(n, cols)` over a LocalRelation is still a driver-known
# frame: the shuffle only decides row->file placement. These helpers
# reproduce Spark's HashPartitioning id exactly — Murmur3_x86_32 with
# seed 42 chained across columns, pmod into n — so the fast path's
# multi-file output places every row in the same file the Spark writer
# would have (tests/test_fastwrite_partitioning.py proves bit-parity
# against F.hash on randomized values). Only AttributeReference keys of
# the types below are claimed; anything else falls back to the Spark
# writer.

_MM3_C1 = 0xCC9E2D51
_MM3_C2 = 0x1B873593
_U32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _U32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * _MM3_C1) & _U32
    k1 = _rotl32(k1, 15)
    return (k1 * _MM3_C2) & _U32


def _mix_h1(h1: int, k1: int) -> int:
    h1 = (h1 ^ k1) & _U32
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _U32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _U32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _U32
    return h1 ^ (h1 >> 16)


def _hash_int(i: int, seed: int) -> int:
    return _fmix(_mix_h1(seed & _U32, _mix_k1(i & _U32)), 4)


def _hash_long(value: int, seed: int) -> int:
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = _mix_h1(seed & _U32, _mix_k1(v & _U32))
    h1 = _mix_h1(h1, _mix_k1(v >> 32))
    return _fmix(h1, 8)


def _hash_bytes(b: bytes, seed: int) -> int:
    n = len(b)
    aligned = n - n % 4
    h1 = seed & _U32
    for i in range(0, aligned, 4):
        word = int.from_bytes(b[i : i + 4], "little")  # Platform.getInt, LE
        h1 = _mix_h1(h1, _mix_k1(word))
    for i in range(aligned, n):
        byte = b[i]
        if byte > 127:
            byte -= 256  # java byte is signed; sign-extends through mixK1
        h1 = _mix_h1(h1, _mix_k1(byte & _U32))
    return _fmix(h1, n)


_EPOCH = _dt.date(1970, 1, 1)


def _hash_value(v, dt: T.DataType, seed: int) -> int | None:
    """One column's contribution to the row hash (Spark's
    HashExpression: null leaves the seed unchanged). Returns None for
    an unsupported type — caller must decline the fast path."""
    if v is None:
        return seed
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return _hash_int(v, seed)
    if isinstance(dt, T.LongType):
        return _hash_long(v, seed)
    if isinstance(dt, T.BooleanType):
        return _hash_int(1 if v else 0, seed)
    if isinstance(dt, T.StringType):
        return _hash_bytes(v.encode("utf-8"), seed)
    if isinstance(dt, T.DateType):
        return _hash_int((v - _EPOCH).days, seed)
    return None


def spark_partition_ids(
    rows, schema: T.StructType, key_cols: list[str], n: int
) -> list[int] | None:
    """Spark's HashPartitioning partition id — pmod(hash(keys, 42), n)
    — per collected Row, or None when any key type is unsupported.
    Python's floored % equals Spark's pmod for positive n."""
    idx = {f.name: (i, f.dataType) for i, f in enumerate(schema.fields)}
    try:
        keys = [idx[c] for c in key_cols]
    except KeyError:
        return None
    out = []
    for r in rows:
        h = 42
        for i, dt in keys:
            h = _hash_value(r[i], dt, h)
            if h is None:
                return None
        # java int: interpret the 32-bit value as signed before pmod
        signed = h - (1 << 32) if h >= (1 << 31) else h
        out.append(signed % n)
    return out


def rows_to_arrow(rows, schema: T.StructType) -> pa.Table | None:
    """Collected Rows + their Spark schema -> a pyarrow Table, or None
    when a column's type is outside the supported map (caller falls
    back to the Spark writer)."""
    fields = []
    for f in schema.fields:
        at = _arrow_type(f.dataType)
        if at is None:
            return None
        fields.append(pa.field(f.name, at, nullable=True))
    arrow_schema = pa.schema(fields)
    cols = []
    try:
        for i, f in enumerate(schema.fields):
            vals = [_convert(r[i], f.dataType) for r in rows]
            cols.append(pa.array(vals, type=arrow_schema.field(i).type))
    except (pa.ArrowInvalid, pa.ArrowTypeError, ValueError, TypeError,
            OverflowError, AttributeError):
        return None
    return pa.Table.from_arrays(cols, schema=arrow_schema)


def write_rows(table: pa.Table, path: str) -> None:
    """One parquet file, snappy like Spark's default, stats on (the
    footer metrics _scan_written reads are written by default).
    Timestamps go out as INT96 exactly like Spark's writer (see
    `_arrow_type`)."""
    pq.write_table(
        table, path, compression="snappy", use_deprecated_int96_timestamps=True
    )
