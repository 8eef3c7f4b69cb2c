"""Structured Streaming variants of the engine's retrieval shapes.

The reference is batch-only (SURVEY.md §2: "all streaming constructs
explicitly absent"), so these are north-star extensions: the streaming
materialization loop a feature store runs between batch backfills.

- ``streaming_latest_per_key``   — continuously maintained latest-row-per-
  key (the streaming twin of operators/pull_latest.py), expressed as a
  streaming aggregation with ``max_by`` so Spark keeps ONE row of state
  per key (not the full history).
- ``streaming_window_counts``    — watermarked tumbling-window aggregates
  over an event stream; late data beyond the watermark is dropped and
  state is garbage-collected — the property that makes it run forever at
  100 TB/day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def stream_parquet_source(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """File-stream source over a parquet directory (schema must be
    supplied: streaming reads cannot infer)."""
    return spark.readStream.schema(schema).parquet(path)


def streaming_latest_per_key(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Latest value per key over an unbounded stream.

    State = one struct per key (max_by keeps only the winner), so state
    size is O(|keys|) regardless of stream length. Use with
    ``outputMode("complete")`` (memory/console) or ``update`` (key-value
    sinks)."""
    winner = F.max_by(
        F.struct(F.col(ts_col).alias(ts_col), *[F.col(c) for c in value_cols]),
        F.col(ts_col),
    ).alias("__w")
    out = stream.groupBy(*key_cols).agg(winner)
    return out.select(
        *key_cols,
        F.col(f"__w.{ts_col}").alias(ts_col),
        *[F.col(f"__w.{c}").alias(c) for c in value_cols],
    )


def streaming_window_counts(
    stream: DataFrame,
    ts_col: str,
    window_duration: str = "1 hour",
    watermark: str = "1 day",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts (append-mode capable: closed
    windows emit once and their state is dropped)."""
    gcols = group_cols or []
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), *gcols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *gcols,
            "n_events",
        )
    )
