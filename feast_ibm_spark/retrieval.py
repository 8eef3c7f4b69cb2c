"""Lazy retrieval job — the engine's result-delivery surface.

Mirrors ``DataEngineRetrievalJob`` (reference
``ibm_data_engine/data_engine_offline_store.py:313-348``): nothing executes
until ``to_df()`` / ``to_arrow()`` is called, and the job carries retrieval
metadata (feature names, join keys, min/max event timestamp, reference
``:417``, ``:470-475``). Spark DataFrames are already lazy, so the job wraps
a zero-arg DataFrame factory; ``persist`` — left ``NotImplementedError`` in
the reference (``:321-327``) — is implemented here as a parquet write.
"""

from __future__ import annotations

from datetime import datetime
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame


class RetrievalMetadata:
    """Feature names, join keys, and the spine's event-timestamp range
    (reference ``RetrievalMetadata`` use at ``:417``, ``:470-475``); for
    a TIMESTAMP spine the range is aware UTC, as the reference's
    ``pd.to_datetime(..., utc=True)`` gives it (``:584-585``).

    The min/max timestamps may be supplied eagerly OR as a zero-arg
    ``timestamp_range_resolver`` that is invoked (once) on first access —
    so constructing a job stays free of Spark actions, preserving the
    laziness contract ('nothing executes until to_df')."""

    def __init__(
        self,
        features: list[str] | None = None,
        keys: list[str] | None = None,
        min_event_timestamp: datetime | None = None,
        max_event_timestamp: datetime | None = None,
        timestamp_range_resolver: Callable[[], tuple[datetime, datetime]] | None = None,
    ):
        self.features = features or []
        self.keys = keys or []
        self._min = min_event_timestamp
        self._max = max_event_timestamp
        self._resolver = timestamp_range_resolver

    def _resolve(self) -> None:
        if self._resolver is not None:
            try:
                self._min, self._max = self._resolver()
            except Exception as e:
                # The range aggregate is deferred to first metadata access
                # (laziness contract) — attribute the failure to the
                # retrieval job so a broken spine/timestamp column doesn't
                # surface as an anonymous property-getter traceback.
                raise RuntimeError(
                    "resolving the retrieval job's event-timestamp range "
                    f"failed (features={self.features!r}, keys={self.keys!r})"
                ) from e
            self._resolver = None

    @property
    def min_event_timestamp(self) -> datetime | None:
        self._resolve()
        return self._min

    @property
    def max_event_timestamp(self) -> datetime | None:
        self._resolve()
        return self._max

    def __repr__(self) -> str:  # parity with the dataclass repr this
        # class replaced (external code printing metadata keeps working);
        # timestamps show unresolved as None without triggering the
        # deferred Spark aggregate.
        return (
            f"RetrievalMetadata(features={self.features!r}, keys={self.keys!r}, "
            f"min_event_timestamp={self._min!r}, max_event_timestamp={self._max!r})"
        )

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, RetrievalMetadata):
            return NotImplemented
        return (
            self.features == other.features
            and self.keys == other.keys
            and self.min_event_timestamp == other.min_event_timestamp
            and self.max_event_timestamp == other.max_event_timestamp
        )


class SparkRetrievalJob:
    """Wraps a zero-arg ``evaluation_function`` returning a DataFrame
    (laziness contract: reference ``:316-319``, ``:342-348``)."""

    def __init__(
        self,
        evaluation_function: Callable[[], DataFrame],
        metadata: RetrievalMetadata | None = None,
        on_demand_feature_views: list | None = None,
        full_feature_names: bool = False,
    ):
        self.evaluation_function = evaluation_function
        self._metadata = metadata
        self.on_demand_feature_views = on_demand_feature_views or []
        self._full_feature_names = full_feature_names
        self._df: DataFrame | None = None

    @property
    def metadata(self) -> RetrievalMetadata | None:
        return self._metadata

    @property
    def full_feature_names(self) -> bool:
        # feast-0.36 RetrievalJob property: whether feature columns carry
        # the <view>__<feature> prefix (read by feast core's to_df path)
        return self._full_feature_names

    def to_spark_df(self) -> DataFrame:
        """The Spark-native result — still lazy. New capability vs the
        reference (which only had pandas/Arrow edges)."""
        if self._df is None:
            self._df = self.evaluation_function()
        return self._df

    def _to_df_internal(self, timeout: int | None = None):
        return self.to_spark_df().toPandas()

    def to_df(self, timeout: int | None = None):
        return self._to_df_internal(timeout=timeout)

    def _to_arrow_internal(self, timeout: int | None = None) -> pa.Table:
        # Spark 4's native Arrow collection skips the pandas hop entirely
        # (executors ship Arrow batches as-is); fall back to the
        # reference's pandas -> Arrow conversion (:346-348) on older Spark.
        df = self.to_spark_df()
        if hasattr(df, "toArrow"):
            return df.toArrow()
        return pa.Table.from_pandas(df.toPandas())

    def to_arrow(self, timeout: int | None = None) -> pa.Table:
        return self._to_arrow_internal(timeout=timeout)

    def persist(self, path: str, mode: str = "error", partition_by: list[str] | None = None):
        """Persist the result as parquet (reference raised NotImplementedError
        at ``:321-327``; trivial on Spark)."""
        writer = self.to_spark_df().write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
