"""Streaming point-in-time join: enrich a live entity stream with
historical features as-of each event's own timestamp (no reference
counterpart — the reference's PIT join at
``ibm_data_engine/data_engine_offline_store.py:601-779`` is batch-only;
this is its Structured Streaming twin).

The as-of semantics need per-spine-row top-1 selection, which Spark
disallows directly on a streaming DataFrame (no window functions, no
arbitrary multi-join chains). The standard scale pattern is
``foreachBatch``: every micro-batch of spine rows is a *bounded batch
DataFrame*, so the full batch engine — including the engine's own
``point_in_time_join`` with its auto/broadcast/shuffle/union_window
strategies, TTL prefilter, and created-ts tiebreak — runs unchanged per
trigger. Feature tables are re-resolved from source every batch, so a
concurrent materialize job updating them is picked up on the next
trigger; no streaming state accumulates (state lives in the feature
store, not the stream).

At 100 TB / 1000 executors: each micro-batch PIT join plans exactly like
the batch one (TTL-bounded feature scan, key-pruned melt under the
default ``auto``), so
the per-trigger cost tracks the batch numbers in BENCH, and checkpointing
gives exactly-once sink delivery for idempotent sinks.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from ..operators.pit_join import FeatureViewSpec, point_in_time_join


def streaming_pit_join(
    spine_stream: DataFrame,
    feature_views: list[FeatureViewSpec],
    sink: Callable[[DataFrame, int], None],
    spine_timestamp_field: str = "event_timestamp",
    full_feature_names: bool = False,
    strategy: str = "auto",
) -> DataStreamWriter:
    """Return a ``DataStreamWriter`` that point-in-time-joins every
    micro-batch of ``spine_stream`` against the (static) feature views and
    hands the enriched batch to ``sink(batch_df, batch_id)``.

    The caller starts it: ``streaming_pit_join(...).start()`` (add
    ``.option("checkpointLocation", ...)`` / ``.trigger(...)`` first as
    needed). ``sink`` runs on the driver per trigger — typical sinks are
    ``df.write.parquet`` appends or an online-store upsert.
    """
    if not feature_views:
        raise ValueError("feature_views must be non-empty")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            enriched = point_in_time_join(
                batch_df,
                feature_views,
                spine_timestamp_field=spine_timestamp_field,
                full_feature_names=full_feature_names,
                strategy=strategy,
            )
            sink(enriched, batch_id)

    return spine_stream.writeStream.foreachBatch(_process)
