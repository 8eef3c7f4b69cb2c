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

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .operators.pit_join import FeatureViewSpec, _spine_time_range, point_in_time_join
from .operators.pull_all import time_range_scan
from .operators.pull_latest import latest_per_key
from .retrieval import RetrievalMetadata, SparkRetrievalJob
from .sources.data_source import SparkDataSource


def _ensure_spine(
    spark: SparkSession, entity_df, timestamp_field: str | None = None
) -> DataFrame:
    """Accept a pandas DataFrame (the reference's only supported type,
    ``:360``; the SQL-string variant raised NotImplementedError at
    ``:552-555``) or a Spark DataFrame / SQL string — both lifted here.

    Only the event-timestamp column is normalized with
    ``pd.to_datetime(utc=True)``, exactly like the reference
    (``_get_entity_df_event_timestamp_range``, ``:584-585``) — entity
    join keys are never touched, so string keys that happen to parse as
    dates ("1001", "20240101") survive as strings.
    """
    if isinstance(entity_df, DataFrame):
        return entity_df
    if isinstance(entity_df, pd.DataFrame):
        df = entity_df.copy()
        ts_col = timestamp_field or _infer_event_timestamp_col(list(df.columns))
        if ts_col in df.columns and df[ts_col].dtype == object:
            df[ts_col] = pd.to_datetime(df[ts_col], utc=True).dt.tz_localize(None)
        return spark.createDataFrame(df)
    if isinstance(entity_df, str):
        return spark.sql(entity_df)
    raise TypeError(f"unsupported entity_df type: {type(entity_df)}")


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

    Counts THIS increment's output, not the destination directory — with
    mode="append" a re-read would count pre-existing snapshots too, and at
    scale it is a full extra scan. Persisted so the write and the count
    share one computation."""
    out = out.persist()
    try:
        write(out.write)
        return out.count()
    finally:
        out.unpersist()


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
        (NOTES.md "PIT strategy choice"); the explicit strategies remain
        for callers with known shapes."""
        spine = _ensure_spine(spark, entity_df, timestamp_field=spine_timestamp_field)
        ts_col = spine_timestamp_field or _infer_event_timestamp_col(spine.columns)

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

        # The spine (min, max, n_rows) probe feeds BOTH the job metadata and
        # the PIT join's TTL prefilter and strategy choice. It runs lazily
        # (construction stays free of Spark actions — the reference's
        # laziness contract, :313-348) and at most once, shared between the
        # two consumers.
        spine_range = functools.cache(lambda: _spine_time_range(spine, ts_col))

        def evaluate() -> DataFrame:
            return point_in_time_join(
                spine,
                feature_views,
                spine_timestamp_field=ts_col,
                full_feature_names=full_feature_names,
                strategy=strategy,
                time_range=spine_range(),
            )

        meta = RetrievalMetadata(
            features=feature_names,
            keys=keys,
            timestamp_range_resolver=lambda: spine_range()[:2],
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
        import pyspark.sql.functions as F

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
