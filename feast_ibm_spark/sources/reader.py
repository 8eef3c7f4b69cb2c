"""Parquet reading with TIMESTAMP(NANOS) normalization.

Spark (through 4.x) cannot represent nanosecond parquet timestamps and
fails the scan with ``PARQUET_TYPE_ILLEGAL: INT64 (TIMESTAMP(NANOS))``.
The driver's synthetic tables (and plenty of real-world pandas/polars
output) store nanos. The shim here:

1. inspects the parquet footer (metadata-only, no data read) with pyarrow
   to find nanosecond timestamp columns,
2. reads them as raw INT64 via the runtime-settable
   ``spark.sql.legacy.parquet.nanosAsLong`` conf, and
3. projects them back to ``TimestampType`` with integer division
   (``ts div 1000`` — integer, not double, so 19-digit nanos don't lose
   precision) + ``timestamp_micros``.

Truncation (floor) to microseconds matches what DuckDB does when it reads
the same files, so oracle comparisons stay exact. The conversion is a
JVM-side projection inside whole-stage codegen — no UDF, no driver
round-trip — and the footer inspection is O(1) per table, so this holds
at 100 TB.
"""

from __future__ import annotations

import os
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _first_parquet_file(path: str) -> str | None:
    if os.path.isfile(path):
        return path
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                return os.path.join(path, name)
    return None


def _nano_timestamp_columns(path: str) -> list[str]:
    """Columns stored as physical INT64 + logical TIMESTAMP(nanoseconds).

    Checked against the PARQUET schema, not the arrow-inferred one: legacy
    INT96 timestamps (Spark's default output format) come back from
    ``pq.read_schema`` as ``timestamp[ns]`` too, but Spark reads INT96
    natively — only true INT64-nanos columns need the raw-long shim."""
    f = _first_parquet_file(path)
    if f is None:
        return []
    try:
        schema = pq.ParquetFile(f).schema
    except Exception:
        return []
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
            out.append(col.name)
    return out


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that transparently fixes nanos timestamps.

    .. warning:: **Session-wide side effect.** When a nanos column is
       detected this sets ``spark.sql.legacy.parquet.nanosAsLong=true``
       for the whole session and never restores it (the conf must stay
       enabled through action time — executors re-read footers when the
       scan runs). Any *later* plain ``spark.read.parquet`` on a nanos
       file in the same session will then silently yield raw ``bigint``
       columns instead of the loud ``PARQUET_TYPE_ILLEGAL`` error. Route
       all parquet reads through this function (as the engine itself
       does) so nanos columns are always converted back to timestamps.
    """
    nanos = _nano_timestamp_columns(path)
    if not nanos:
        return spark.read.parquet(path)
    # Must stay enabled through action time: executors re-read footers when
    # the scan actually runs, so restoring the conf here would break the job.
    spark.conf.set(_NANOS_CONF, "true")
    raw = spark.read.parquet(path)
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

    ``readStream`` needs an explicit schema; it is taken from a batch read
    under the ``nanosAsLong`` conf (footer-only, no data scan), so nanos
    columns arrive as raw INT64 and are projected back to microsecond
    timestamps exactly like the batch path — the streaming and batch
    reads of one table therefore see bit-identical timestamps, which is
    what lets a deterministic streaming query share its batch twin's
    oracle. Same session-wide conf caveat as :func:`read_parquet`.
    """
    nanos = _nano_timestamp_columns(path)
    def _stream(schema) -> DataFrame:
        # FileStreamSource requires a DIRECTORY basePath; a single-file
        # table is streamed as its parent dir + a glob for just that file
        reader = spark.readStream.schema(schema)
        if os.path.isfile(path):
            reader = reader.option("pathGlobFilter", os.path.basename(path))
            return reader.parquet(os.path.dirname(path))
        return reader.parquet(path)

    if not nanos:
        return _stream(spark.read.parquet(path).schema)
    spark.conf.set(_NANOS_CONF, "true")
    raw = _stream(spark.read.parquet(path).schema)
    return _convert_nanos(raw, nanos)


def load_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of :func:`load_table`."""
    return read_parquet_stream(spark, os.path.join(sf_dir, f"{name}.parquet"))
