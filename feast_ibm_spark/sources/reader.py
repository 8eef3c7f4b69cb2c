"""Parquet reading with TIMESTAMP(NANOS) normalization.

Spark (through 4.x) cannot represent nanosecond parquet timestamps and
fails the scan with ``PARQUET_TYPE_ILLEGAL: INT64 (TIMESTAMP(NANOS))``.
Plenty of real-world pandas/polars output stores nanos. The shim here:

1. inspects the parquet footer (metadata-only, no data read) with pyarrow
   to find nanosecond timestamp columns,
2. reads them as raw INT64 under the runtime-settable
   ``spark.sql.legacy.parquet.nanosAsLong`` conf, which the engine's
   session defaults (``session.ENGINE_DEFAULTS``) switch on, and
3. projects them back to ``TimestampType`` with integer division
   (``ts div 1000`` — integer, not double, so 19-digit nanos don't lose
   precision) + ``timestamp_micros``.

Truncation (floor) to microseconds matches what DuckDB does when it reads
the same files, so oracle comparisons stay exact. The conversion is a
JVM-side projection inside whole-stage codegen — no UDF, no driver
round-trip — and the footer inspection is O(1) per table, so this holds
at 100 TB.

The same footers give the Spark schema (``_footer_schema``): pyspark's
``from_arrow_type`` per column, nanos columns as ``LongType``, every
field nullable. Passing it through ``spark.read.schema`` spares each load
the distributed footer read of Spark's schema inference — one job per
load — and leaves the plan as it was. Where the files cannot be listed
locally or the mapping is not certain to agree, the load infers.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


def _nanos_of(schema: pq.ParquetSchema) -> list[str]:
    """Columns stored as physical INT64 + logical TIMESTAMP(nanoseconds),
    by path (a nested column's path joins its names with dots).

    Checked against the PARQUET schema, not the arrow-inferred one: legacy
    INT96 timestamps (Spark's default output format) come back from
    ``pq.read_schema`` as ``timestamp[ns]`` too, but Spark reads INT96
    natively — only true INT64-nanos columns need the raw-long shim."""
    out = []
    for i in range(len(schema)):
        col = schema.column(i)
        lt = col.logical_type
        if (
            col.physical_type == "INT64"
            and lt is not None
            and getattr(lt, "type", None) == "TIMESTAMP"
            and "nanoseconds" in str(lt)
        ):
            out.append(col.path)
    return out


# Session settings under which Spark's parquet schema inference reads a
# footer the way ``_file_schema`` maps it; a session that differs infers.
_FOOTER_SCHEMA_CONFS = {
    # from_arrow_type maps a zone-less timestamp to TimestampType only
    # while Spark does not infer TIMESTAMP_NTZ for it
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.binaryAsString": "false",
    "spark.sql.parquet.int96AsTimestamp": "true",
}
# the schema Spark stores in the files it writes, which its inference
# prefers over the parquet types (a TIMESTAMP_NTZ column, for one)
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _data_files(path: str) -> list[str] | None:
    """The files a parquet read of ``path`` scans, when they can be listed
    here: a local file, or the visible files of a flat local directory
    (Spark's own rule: names starting with ``_`` or ``.`` are hidden).
    None for anything else — a URI, a glob, summary files, and
    directories with subdirectories (hive partitions)."""
    if any(c in path for c in "{}[]*?\\"):
        return None
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    files = []
    for entry in sorted(os.scandir(path), key=lambda e: e.name):
        name = entry.name
        if name.startswith(("_metadata", "_common_metadata")):
            return None
        if (
            (name.startswith("_") and "=" not in name)
            or name.startswith(".")
            or name.endswith("._COPYING_")
        ):
            continue
        if not entry.is_file():
            return None
        files.append(entry.path)
    return files


def _as_nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable and no field
    metadata — what Spark makes of any schema it reads from files."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def _arrow_type_maps(t: pa.DataType) -> bool:
    """Whether Spark reads a column of arrow type ``t`` as pyspark's
    ``from_arrow_type`` maps it. Durations, times, unsigned and null
    columns are stored as plain integers that Spark reads as such."""
    if pa.types.is_dictionary(t):
        return _arrow_type_maps(t.value_type)
    if pa.types.is_struct(t):
        return all(_arrow_type_maps(f.type) for f in t)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _arrow_type_maps(t.value_type)
    if pa.types.is_map(t):
        return _arrow_type_maps(t.key_type) and _arrow_type_maps(t.item_type)
    if pa.types.is_decimal(t):
        return t.precision <= 38
    return (
        pa.types.is_boolean(t)
        or pa.types.is_signed_integer(t)
        or pa.types.is_float32(t)
        or pa.types.is_float64(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
        or pa.types.is_fixed_size_binary(t)
        or pa.types.is_date32(t)
        or pa.types.is_timestamp(t)
    )


def _file_schema(f: str) -> tuple[StructType | None, list[str]] | None:
    """(Spark schema, nanos columns) of one parquet file from its footer;
    the schema is None when a column does not map. None when the footer
    cannot be read."""
    try:
        meta = pq.read_metadata(f)
    except Exception:
        return None
    arrow = meta.schema.to_arrow_schema()
    paths = _nanos_of(meta.schema)
    # a nested nanos leaf stays a raw bigint, which from_arrow_type
    # would not say; only top-level ones are converted
    nanos = [c for c in paths if c in arrow.names]
    if len(nanos) < len(paths) or not all(
        _arrow_type_maps(field.type) for field in arrow
    ):
        return None, nanos
    try:
        schema = _as_nullable(
            StructType(
                [
                    StructField(field.name, LongType())
                    if field.name in nanos
                    else StructField(field.name, from_arrow_type(field.type))
                    for field in arrow
                ]
            )
        )
        stored = (meta.metadata or {}).get(_SPARK_ROW_SCHEMA)
        if stored is not None and schema != _as_nullable(
            StructType.fromJson(json.loads(stored))
        ):
            return None, nanos
    except Exception:  # a type this pyspark cannot map or parse
        return None, nanos
    return schema, nanos


def _footer_schema(
    spark: SparkSession, path: str
) -> tuple[StructType | None, list[str]]:
    """(Spark schema, nanos columns) of the parquet table at ``path``,
    from the footers alone — the schema Spark's inference job would
    return, without the job.

    The schema is None, and the caller infers, when the files cannot be
    listed here (``_data_files``), a type does not map, the files'
    footers disagree, or the session reads parquet differently from the
    mapping (``_FOOTER_SCHEMA_CONFS``). Nothing is cached: each load
    re-reads the footers, so a rewritten table is seen as it is now."""
    files = _data_files(path)
    first = _file_schema(files[0]) if files else None
    if first is None:
        return None, []
    schema, nanos = first
    if schema is not None and (
        any(spark.conf.get(k) != v for k, v in _FOOTER_SCHEMA_CONFS.items())
        or any(_file_schema(f) != first for f in files[1:])
    ):
        schema = None
    return schema, nanos


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that transparently fixes nanos timestamps.

    Nanos columns arrive as raw ``bigint`` under the session's
    ``nanosAsLong`` default and are converted back to timestamps here;
    a plain ``spark.read.parquet`` of the same file keeps them raw.
    The schema comes from the footers when ``_footer_schema`` can derive
    it, which spares the load Spark's schema inference job.
    """
    schema, nanos = _footer_schema(spark, path)
    raw = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    return _nanos_frame(raw, nanos) if nanos else raw


def _nanos_frame(raw: DataFrame, nanos) -> DataFrame:
    """``raw`` with its ``nanos`` columns converted, and the
    pre-conversion frame stashed so that ``filter_ts_range`` can push
    range predicates down to the parquet scan in raw-int64 space. Any
    DataFrame call on the result drops the stash."""
    df = _convert_nanos(raw, nanos)
    df._fis_nanos_raw = (raw, set(nanos))  # type: ignore[attr-defined]
    return df


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """``df.withColumnsRenamed(mapping)`` that keeps a nanos load's
    stash (``_nanos_frame``): the raw frame is renamed and converted."""
    info = getattr(df, "_fis_nanos_raw", None)
    if info is None:
        return df.withColumnsRenamed(mapping)
    raw, cols = info
    return _nanos_frame(
        raw.withColumnsRenamed(mapping), [mapping.get(c, c) for c in cols]
    )


def _convert_nanos(raw: DataFrame, nanos) -> DataFrame:
    return raw.withColumns(
        {c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in nanos}
    )


_HOUR_US = 3_600_000_000
_EPOCH = datetime(1970, 1, 1)
_US = timedelta(microseconds=1)
_MIN_US = (datetime.min - _EPOCH) // _US
_MAX_US = (datetime.max - _EPOCH) // _US
_INT64 = (-(2**63), 2**63 - 1)


def _bound_us(spark: SparkSession, x, ntz: bool) -> int:
    """A time bound as the column's internal microseconds.

    ``TimestampType`` (and the nanos shim's converted column): epoch µs.
    A datetime converts exactly as ``F.lit`` (and ``createDataFrame``)
    convert it — pyspark's ``TimestampType().toInternal``: an aware one
    (``SpineFacts`` bounds of a TIMESTAMP spine are aware UTC) exactly, a
    naive one in the driver's zone. Any other bound (an ISO string, a
    date) parses through pandas; without an offset it reads as a wall
    clock in the session zone, as Spark's cast does.

    ``TIMESTAMP_NTZ``: zone-free wall-clock µs. An aware bound takes its
    UTC wall clock (NTZ values are UTC wall clocks by this engine's
    convention); a naive one is taken as is. Python datetimes cover
    years 1-9999, so far-past/far-future sentinel bounds convert too."""
    t, text = x, not isinstance(x, datetime)
    if text:
        try:
            t = pd.Timestamp(x).to_pydatetime(warn=False)
        except (pd.errors.OutOfBoundsDatetime, OverflowError):
            t = datetime.fromisoformat(x)
    if ntz:
        if t.tzinfo is not None:
            t = t.astimezone(timezone.utc).replace(tzinfo=None)
        return (t - _EPOCH) // _US
    if text and t.tzinfo is None:
        # java.time, as Spark's cast: a wall clock in a DST gap moves
        # forward by the gap, an overlapped one takes the earlier offset
        jt = spark._jvm.java.time
        instant = (
            jt.LocalDateTime.of(
                t.year, t.month, t.day, t.hour, t.minute, t.second,
                t.microsecond * 1000,
            )
            .atZone(jt.ZoneId.of(spark.conf.get("spark.sql.session.timeZone")))
            .toInstant()
        )
        return instant.getEpochSecond() * 1_000_000 + instant.getNano() // 1000
    return TimestampType().toInternal(t)


def bound_date(spark: SparkSession, x, ntz: bool) -> str:
    """The ``yyyy-MM-dd`` date of time bound ``x``, converted as
    ``_bound_us`` converts it: the date of the instant in the session
    zone, or of the wall clock for ``TIMESTAMP_NTZ``."""
    us = _bound_us(spark, x, ntz)
    if ntz:
        return (_EPOCH + us * _US).date().isoformat()
    jt = spark._jvm.java.time
    return (
        jt.Instant.ofEpochSecond(us // 1_000_000, us % 1_000_000 * 1000)
        .atZone(jt.ZoneId.of(spark.conf.get("spark.sql.session.timeZone")))
        .toLocalDate()
        .toString()
    )


def _widen_to_hour(us: int, up: bool) -> int:
    """``us`` floored (``up=False``) or ceiled to a whole hour of its own
    time space; kept as is where the rounded value leaves the datetime
    range."""
    r = -(-us // _HOUR_US) * _HOUR_US if up else us // _HOUR_US * _HOUR_US
    return r if _MIN_US <= r <= _MAX_US else us


def _ntz_lit(us: int):
    wall = _EPOCH + us * _US
    # isoformat, NOT strftime: strftime("%Y") drops the zero-padding on
    # years < 1000 ("1-01-01"), which Spark's NTZ cast rejects
    return F.to_timestamp_ntz(
        F.lit(wall.isoformat(sep=" ", timespec="microseconds"))
    )


def filter_ts_range(
    df: DataFrame, ts_col: str, lo, hi, *, prefilter: bool = False
) -> DataFrame:
    """Inclusive ``lo <= ts_col <= hi`` filter that reaches the parquet scan.

    ``lo``/``hi`` may be datetimes, dates or ISO strings (µs precision);
    ``None`` leaves that side open. Every branch converts them through
    one function, ``_bound_us``, into the column's own time space.

    The nanos->timestamp projection (``timestamp_micros(c div 1000)``) is
    opaque to parquet filter pushdown: a predicate written against the
    converted column leaves only ``IsNotNull`` in ``PushedFilters`` and
    every row group is read. The conversion is monotonic, so the predicate
    is rewritten into raw-int64 nanos space —
    ``raw >= lo_us*1000 AND raw <= hi_us*1000 + 999`` is exactly
    equivalent to ``lo <= trunc_us(raw) <= hi`` — and applied BEFORE the
    conversion, where it pushes down to row-group pruning. At 100 TB this
    is the difference between scanning a day and scanning the decade.
    ``TIMESTAMP_NTZ`` columns compare against NTZ literals built from the
    zone-free wall clock: ``F.lit(naive_datetime)`` binds the driver zone
    and the column would coerce through the session zone, which under a
    DST zone is non-monotone and could empty the window.

    ``prefilter=True`` (the as-of operators' TTL prefilter, whose result
    the join re-checks exactly) widens the bounds outward to whole hours
    of the column's time space: floor ``lo``, ceil ``hi``. Whole-stage
    codegen inlines the bound literals into the generated scan code, and
    Spark caches compiled classes by their source, so every retrieval
    whose bounds fall in the same hours reuses one compiled class instead
    of compiling (and JIT-warming) a new one. Exact filters (``pull_all``,
    ``pull_latest``, ``materialize``) keep ``prefilter=False``.
    """
    info = getattr(df, "_fis_nanos_raw", None)
    nanos = info is not None and ts_col in info[1]
    ntz = not nanos and isinstance(df.schema[ts_col].dataType, TimestampNTZType)

    def us(x, up: bool) -> int | None:
        if x is None:
            return None
        v = _bound_us(df.sparkSession, x, ntz)
        return _widen_to_hour(v, up) if prefilter else v

    lo_us, hi_us = us(lo, False), us(hi, True)
    if nanos:
        # raw values are int64: a bound past that range bounds nothing
        # extra, so clamping keeps the predicate exact
        raw, cols = info
        lo_v = None if lo_us is None else max(lo_us * 1000, _INT64[0])
        hi_v = None if hi_us is None else min(hi_us * 1000 + 999, _INT64[1])
        lit = F.lit
    else:
        lo_v, hi_v = lo_us, hi_us
        lit = _ntz_lit if ntz else (lambda v: F.timestamp_micros(F.lit(v)))
    cond = None
    if lo_v is not None:
        cond = F.col(ts_col) >= lit(lo_v)
    if hi_v is not None:
        c2 = F.col(ts_col) <= lit(hi_v)
        cond = c2 if cond is None else (cond & c2)
    if not nanos:
        return df.filter(cond) if cond is not None else df
    return _nanos_frame(raw.filter(cond) if cond is not None else raw, cols)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the driver's synthetic tables
    (``{sf_dir}/{name}.parquet``, TESTDATA.md)."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_parquet_stream(spark: SparkSession, path: str) -> DataFrame:
    """``spark.readStream.parquet`` with the same TIMESTAMP(NANOS) shim as
    :func:`read_parquet`.

    ``readStream`` needs an explicit schema; it is the footer-derived
    one (``_footer_schema``), or a batch read's inferred one where the
    footers cannot be mapped, under the ``nanosAsLong`` conf either way,
    so nanos columns arrive as raw INT64 and are projected back to
    microsecond timestamps exactly like the batch path — the streaming
    and batch reads of one table therefore see bit-identical timestamps,
    which is what lets a deterministic streaming query share its batch
    twin's oracle.
    """
    schema, nanos = _footer_schema(spark, path)
    if schema is None:
        schema = spark.read.parquet(path).schema
    # FileStreamSource requires a DIRECTORY basePath; a single-file
    # table is streamed as its parent dir + a glob for just that file
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        raw = reader.parquet(os.path.dirname(path))
    else:
        raw = reader.parquet(path)
    return _convert_nanos(raw, nanos) if nanos else raw


def load_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of :func:`load_table`."""
    return read_parquet_stream(spark, os.path.join(sf_dir, f"{name}.parquet"))
