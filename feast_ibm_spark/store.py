"""SparkOfflineStore — the engine facade mirroring the reference's
``DataEngineOfflineStore`` public surface
(``ibm_data_engine/data_engine_offline_store.py:351-513``): three static
retrieval entry points returning lazy jobs. The reference's entity-df
staging dance (pandas -> parquet temp file -> COS upload -> CREATE TABLE ->
query -> delete + DROP, ``:535-558``/``:526-532``) collapses into
``spark.createDataFrame(pdf)`` — no object-storage round trip, no cleanup.
"""

from __future__ import annotations

import functools
from datetime import datetime

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType, TimestampType

from .operators.pit_join import FeatureViewSpec, SpineFacts, point_in_time_join
from .operators.pull_all import time_range_scan
from .operators.pull_latest import latest_per_key
from .retrieval import RetrievalMetadata, SparkRetrievalJob
from .sources.data_source import SparkDataSource


def _ensure_spine(
    spark: SparkSession, entity_df, timestamp_field: str | None = None
) -> tuple[DataFrame, SpineFacts]:
    """Accept a pandas DataFrame (the reference's only supported type,
    ``:360``; the SQL-string variant raised NotImplementedError at
    ``:552-555``) or a Spark DataFrame / SQL string — both lifted here.
    Returns the Spark spine and its ``SpineFacts``, the spine facts the
    as-of join and the job metadata read.

    Only the event-timestamp column is normalized with
    ``pd.to_datetime(utc=True)``, exactly like the reference
    (``_get_entity_df_event_timestamp_range``, ``:584-585``) — entity
    join keys are never touched, so string keys that happen to parse as
    dates ("1001", "20240101") survive as strings. The column is also
    floored to microseconds, Spark's timestamp precision, before the
    frame goes to Spark: the Spark spine and the pandas frame then hold
    the same instants, and the facts come from the pandas frame
    (``_PandasSpineFacts``) with no Spark job, as the reference computes
    its range in pandas. A Spark DataFrame or SQL spine, or a timestamp
    column that is not a pandas datetime, gets the Spark-probed
    ``SpineFacts``.
    """
    if isinstance(entity_df, pd.DataFrame):
        df = entity_df.copy()
        ts_col = timestamp_field or _infer_event_timestamp_col(list(df.columns))
        if ts_col in df.columns and df[ts_col].dtype == object:
            # ISO8601 parses each string on its own; without a format
            # pandas takes one from the first element and rejects the rest
            df[ts_col] = pd.to_datetime(
                df[ts_col], utc=True, format="ISO8601"
            ).dt.tz_localize(None)
        in_pandas = ts_col in df.columns and _is_numpy_datetime(df[ts_col].dtype)
        if in_pandas:
            # floored in UTC: a zone's wall clock can be ambiguous
            ts = df[ts_col]
            if isinstance(ts.dtype, pd.DatetimeTZDtype):
                ts = ts.dt.tz_convert("UTC")
            df[ts_col] = ts.dt.floor("us")
        spine = spark.createDataFrame(df)
        if in_pandas:
            return spine, _PandasSpineFacts(spine, ts_col, df)
    elif isinstance(entity_df, DataFrame):
        spine = entity_df
    elif isinstance(entity_df, str):
        spine = spark.sql(entity_df)
    else:
        raise TypeError(f"unsupported entity_df type: {type(entity_df)}")
    ts_col = timestamp_field or _infer_event_timestamp_col(spine.columns)
    return spine, SpineFacts(spine, ts_col)


def _is_numpy_datetime(dtype) -> bool:
    return isinstance(dtype, pd.DatetimeTZDtype) or (
        isinstance(dtype, np.dtype) and dtype.kind == "M"
    )


class _PandasSpineFacts(SpineFacts):
    """``SpineFacts`` of a spine built from a pandas frame, computed from
    that frame. Spark stores a zone-less pandas timestamp as a wall clock
    in the session time zone (pyspark's
    ``_check_series_convert_timestamps_internal``); ``lo``/``hi`` localize
    it there and convert to UTC, the instants the Spark-probed form
    collects. ``distinct`` ships the deduplicated pandas rows under the
    spine's own column types."""

    def __init__(self, spine: DataFrame, ts_col: str, pdf: pd.DataFrame):
        super().__init__(spine, ts_col)
        self.pdf = pdf

    @functools.cached_property
    def _range(self) -> tuple:
        ts = self.pdf[self.ts_col]
        if isinstance(self.spine.schema[self.ts_col].dataType, TimestampType):
            if not isinstance(ts.dtype, pd.DatetimeTZDtype):
                zone = self.spine.sparkSession.conf.get("spark.sql.session.timeZone")
                ts = ts.dt.tz_localize(zone, ambiguous=False)
            ts = ts.dt.tz_convert("UTC")

        def bound(t):
            return None if pd.isna(t) else t.to_pydatetime()

        return bound(ts.min()), bound(ts.max()), len(self.pdf)

    def hot_key_max(self, keys: list[str]) -> int:
        if self.pdf.empty:
            return 0
        return int(
            self.pdf.groupby(keys, dropna=False, observed=True, sort=False).size().max()
        )

    def distinct(self, cols: list[str]) -> DataFrame:
        schema = StructType([self.spine.schema[c] for c in cols])
        return self.spine.sparkSession.createDataFrame(
            self.pdf[cols].drop_duplicates(), schema=schema
        )


def _infer_event_timestamp_col(columns: list[str]) -> str:
    # Feast's offline_utils infers this (reference :371-373); we accept the
    # conventional names.
    for cand in ("event_timestamp", "ts", "timestamp"):
        if cand in columns:
            return cand
    raise ValueError(
        "could not infer the entity event-timestamp column; expected one of "
        "event_timestamp/ts/timestamp in the entity dataframe"
    )


def _write_counted(out: DataFrame, write) -> int:
    """Run ``write(out.write)`` and return the number of rows written.

    The count is an observed metric of the write job itself: no second
    pass and nothing cached, so AQE is free to coalesce the output into
    fewer files. It counts THIS increment's output, not the destination
    directory — with mode="append" a re-read would count pre-existing
    snapshots too. A write that raises never reaches ``obs.get``, so it
    cannot block there."""
    obs = Observation()
    write(out.observe(obs, F.count(F.lit(1)).alias("n")).write)
    return obs.get["n"]


class SparkOfflineStore:
    """Batch retrieval API. All methods return a lazy SparkRetrievalJob
    (laziness contract: reference ``:313-348``, ``:381``, ``:416``)."""

    @staticmethod
    def get_historical_features(
        spark: SparkSession,
        entity_df,
        feature_views: list[FeatureViewSpec],
        full_feature_names: bool = False,
        spine_timestamp_field: str | None = None,
        strategy: str = "auto",
    ) -> SparkRetrievalJob:
        """Point-in-time join of every FeatureView onto the entity spine
        (reference ``get_historical_features``, ``:355-418``).

        ``strategy="auto"`` (the operator's default too): the key-pruned
        melt, measured fastest at every spine shape incl. 50%-hot keys
        (NOTES.md "PIT strategy choice"), or the broadcast range join when
        every view's source is bucketed on its join keys; the explicit
        strategies (``range_join``, ``union_window``,
        ``union_window_salted``) remain for callers with known shapes.
        The range join sizes itself from the spine's row count."""
        spine, facts = _ensure_spine(
            spark, entity_df, timestamp_field=spine_timestamp_field
        )

        # Registry join-key validation (reference :386-392): every view's
        # join keys must exist on the spine.
        missing = {
            k for v in feature_views for k in v.join_keys if k not in spine.columns
        }
        if missing:
            raise ValueError(f"entity_df is missing join key columns: {sorted(missing)}")

        feature_names = [
            (f"{v.name}__{f}" if full_feature_names else f)
            for v in feature_views
            for f in v.features
        ]
        keys = sorted({k for v in feature_views for k in v.join_keys})

        # The spine facts feed BOTH the job metadata and the PIT join's TTL
        # prefilter and strategy choice, from one shared object: free for a
        # pandas spine, else one lazy aggregate (construction stays free of
        # Spark actions — the reference's laziness contract, :313-348) run
        # at most once.
        def evaluate() -> DataFrame:
            return point_in_time_join(
                spine,
                feature_views,
                spine_timestamp_field=facts.ts_col,
                full_feature_names=full_feature_names,
                strategy=strategy,
                facts=facts,
            )

        meta = RetrievalMetadata(
            features=feature_names,
            keys=keys,
            timestamp_range_resolver=lambda: (facts.lo, facts.hi),
        )
        return SparkRetrievalJob(
            evaluate, metadata=meta, full_feature_names=full_feature_names
        )

    @staticmethod
    def pull_latest_from_table_or_query(
        spark: SparkSession,
        data_source: SparkDataSource,
        join_key_columns: list[str],
        feature_name_columns: list[str],
        timestamp_field: str,
        created_timestamp_column: str | None,
        start_date: datetime | str,
        end_date: datetime | str,
        keep_ties: bool = False,
    ) -> SparkRetrievalJob:
        """Latest row per key in range (reference ``:421-476``)."""

        def evaluate() -> DataFrame:
            return latest_per_key(
                data_source.load(spark),
                join_key_columns,
                feature_name_columns,
                timestamp_field,
                created_timestamp_column,
                start_date,
                end_date,
                keep_ties=keep_ties,
            )

        return SparkRetrievalJob(
            evaluate,
            metadata=RetrievalMetadata(
                features=list(feature_name_columns), keys=list(join_key_columns)
            ),
        )

    @staticmethod
    def pull_all_from_table_or_query(
        spark: SparkSession,
        data_source: SparkDataSource,
        join_key_columns: list[str],
        feature_name_columns: list[str],
        timestamp_field: str,
        start_date: datetime | str,
        end_date: datetime | str,
    ) -> SparkRetrievalJob:
        """Time-range scan (reference ``:479-513``; note its signature takes
        no created_timestamp_column either, ``:480-487``)."""

        def evaluate() -> DataFrame:
            return time_range_scan(
                data_source.load(spark),
                join_key_columns,
                feature_name_columns,
                timestamp_field,
                start_date,
                end_date,
            )

        return SparkRetrievalJob(
            evaluate,
            metadata=RetrievalMetadata(
                features=list(feature_name_columns), keys=list(join_key_columns)
            ),
        )

    @staticmethod
    def offline_write_batch(
        df: DataFrame,
        path: str,
        mode: str = "append",
        partition_by: list[str] | None = None,
    ) -> None:
        """Persist a batch (the reference's ``persist`` raised
        NotImplementedError, ``:321-327``).

        ``partition_by`` writes hive-style partitioned parquet — the layout
        that makes F3-style partition pruning (reference ``:665-667``) work
        on the read side: a date-partitioned feature table scanned with a
        date predicate only opens the matching directories."""
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    @staticmethod
    def materialize(
        spark: SparkSession,
        data_source: SparkDataSource,
        join_key_columns: list[str],
        feature_name_columns: list[str],
        timestamp_field: str,
        created_timestamp_column: str | None,
        start_date: datetime | str,
        end_date: datetime | str,
        dest_path: str,
        mode: str = "overwrite",
    ) -> int:
        """One materialization increment: latest feature row per key in
        ``[start_date, end_date]`` snapshotted to ``dest_path``.

        This is the engine half of Feast's materialize loop — Feast core
        drives ``pull_latest_from_table_or_query`` on a time slice and
        loads the result into the online store (reference README
        "Materialize"; the slicing loop lives in feast, not the plugin).
        Returns the number of keys written."""
        job = SparkOfflineStore.pull_latest_from_table_or_query(
            spark,
            data_source,
            join_key_columns,
            feature_name_columns,
            timestamp_field,
            created_timestamp_column,
            start_date,
            end_date,
        )
        return _write_counted(
            job.to_spark_df(), lambda w: w.mode(mode).parquet(dest_path)
        )

    @staticmethod
    def materialize_partitioned(
        spark: SparkSession,
        data_source: SparkDataSource,
        join_key_columns: list[str],
        feature_name_columns: list[str],
        timestamp_field: str,
        created_timestamp_column: str | None,
        start_date: datetime | str,
        end_date: datetime | str,
        dest_path: str,
        day_col: str = "snapshot_day",
    ) -> int:
        """Materialize into a DAY-PARTITIONED snapshot layout with
        idempotent re-runs — the production refresh loop at scale.

        Each increment's latest-per-key rows are written under their
        timestamp's day directory (``day_col=YYYY-MM-DD``) with dynamic
        partition overwrite: a write replaces exactly the day directories
        it produced rows for and touches nothing else. Re-running a slice
        (backfill, failure retry) therefore REPLACES its days instead of
        appending duplicates — idempotency is structural, not a
        downstream-dedup obligation (contrast :meth:`materialize` with
        ``mode="append"``, where the consumer must keep-latest). Readers
        get day-directory partition pruning on the snapshot for free.

        Returns the number of rows written by this increment.
        """
        job = SparkOfflineStore.pull_latest_from_table_or_query(
            spark,
            data_source,
            join_key_columns,
            feature_name_columns,
            timestamp_field,
            created_timestamp_column,
            start_date,
            end_date,
        )
        out = job.to_spark_df().withColumn(
            day_col, F.date_format(F.col(timestamp_field), "yyyy-MM-dd")
        )
        # dynamic: overwrite only the partitions this increment produces.
        # A writer option, not the session conf, so later static overwrites
        # in the same session still replace their whole directory.
        return _write_counted(
            out,
            lambda w: w.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(day_col)
            .parquet(dest_path),
        )
