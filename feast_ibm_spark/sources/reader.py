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
from datetime import timezone

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
    if not nanos:
        return raw
    df = _convert_nanos(raw, nanos)
    # stash the pre-conversion frame so filter_ts_range can push range
    # predicates down to the parquet scan in raw-int64 space
    df._fis_nanos_raw = (raw, set(nanos))  # type: ignore[attr-defined]
    return df


def _convert_nanos(raw: DataFrame, nanos) -> DataFrame:
    return raw.withColumns(
        {c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in nanos}
    )


def filter_ts_range(df: DataFrame, ts_col: str, lo, hi) -> DataFrame:
    """Inclusive ``lo <= ts_col <= hi`` filter that reaches the parquet scan.

    The nanos->timestamp projection (``timestamp_micros(c div 1000)``) is
    opaque to parquet filter pushdown: a predicate written against the
    converted column leaves only ``IsNotNull`` in ``PushedFilters`` and
    every row group is read. The conversion is monotonic, so the predicate
    is rewritten into raw-int64 nanos space —
    ``raw >= lo_us*1000 AND raw <= hi_us*1000 + 999`` is exactly
    equivalent to ``lo <= trunc_us(raw) <= hi`` — and applied BEFORE the
    conversion, where it pushes down to row-group pruning. At 100 TB this
    is the difference between scanning a day and scanning the decade.

    ``lo``/``hi`` may be datetime or ISO strings (µs precision).
    Falls back to a plain timestamp BETWEEN when ``df`` did not come from
    :func:`read_parquet` or the column is not a converted nanos column.
    """
    import pandas as pd

    info = getattr(df, "_fis_nanos_raw", None)
    if info is not None and ts_col in info[1]:
        raw, nanos = info
        cond = None
        if lo is not None:
            lo_us = pd.Timestamp(lo).value // 1000
            cond = F.col(ts_col) >= F.lit(lo_us * 1000)
        if hi is not None:
            hi_us = pd.Timestamp(hi).value // 1000
            c2 = F.col(ts_col) <= F.lit(hi_us * 1000 + 999)
            cond = c2 if cond is None else (cond & c2)
        filtered = raw.filter(cond) if cond is not None else raw
        out = _convert_nanos(filtered, nanos)
        out._fis_nanos_raw = (filtered, nanos)  # type: ignore[attr-defined]
        return out
    # TIMESTAMP_NTZ columns must compare against NTZ literals built
    # zone-free from the wall-clock string (round-7 review fix):
    # F.lit(naive_datetime) binds the DRIVER zone and the NTZ column
    # would coerce through the SESSION zone — under any non-UTC session
    # both mappings disagree (and the session one is non-monotone
    # across DST gaps), silently emptying the TTL prefilter.
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        # Timezone-AWARE bounds are normalized to their UTC wall clock
        # before formatting (NTZ column values are UTC wall clocks by
        # this engine's convention) — strftime on an aware Timestamp
        # would silently emit the zone-LOCAL wall clock and shift the
        # whole window by the bound's offset. Naive bounds pass through
        # unchanged. (pandas imported at the top of this function.)
        #
        # pd.Timestamp only spans years 1677-2262 (int64 nanos); bounds
        # outside that — far-past/far-future sentinels callers use as
        # "no bound" — are formatted without pandas: datetime.isoformat
        # covers years 1-9999 at µs precision, and an out-of-range ISO
        # string is passed through verbatim (to_timestamp_ntz parses it
        # directly). Only the range error is caught; a malformed bound
        # still raises here, not as a silent NULL literal downstream.
        def bound(x):
            try:
                t = pd.Timestamp(x)
                if t.tzinfo is not None:
                    t = t.tz_convert("UTC").tz_localize(None)
                # isoformat, NOT strftime: pandas 2 stores far-out bounds
                # at µs resolution instead of raising, and strftime("%Y")
                # drops the zero-padding on years < 1000 ("1-01-01"),
                # which Spark's NTZ cast rejects as malformed.
                s = t.isoformat(sep=" ", timespec="microseconds")
            except (pd.errors.OutOfBoundsDatetime, OverflowError):
                if isinstance(x, str):
                    s = x
                else:
                    t = x
                    if t.tzinfo is not None:
                        t = t.astimezone(timezone.utc).replace(tzinfo=None)
                    s = t.isoformat(sep=" ", timespec="microseconds")
            return F.to_timestamp_ntz(F.lit(s))
    else:
        def bound(x):
            return F.lit(x).cast("timestamp")

    cond = None
    if lo is not None:
        cond = F.col(ts_col) >= bound(lo)
    if hi is not None:
        c2 = F.col(ts_col) <= bound(hi)
        cond = c2 if cond is None else (cond & c2)
    return df.filter(cond) if cond is not None else df


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
