"""Feast ``OfflineStore`` adapter — the drop-in surface for reference users.

The reference exposes its engine to users exclusively through Feast's
``OfflineStore`` plugin interface (``DataEngineOfflineStore``, reference
``ibm_data_engine/data_engine_offline_store.py:351-513``, pinned to
feast ^0.36, ``pyproject.toml:34``). This module provides the same
three static entry points with feast-0.36-compatible signatures, mapping
them onto the in-process engine (`store.SparkOfflineStore`):

- ``get_historical_features``   (reference ``:355-418``)
- ``pull_latest_from_table_or_query``  (reference ``:421-476``)
- ``pull_all_from_table_or_query``     (reference ``:479-513``)

Feast itself is NOT required to import this module (it is not installed
in the build container): all feast imports are deferred to call time, and
the FeatureView/DataSource mapping helpers are duck-typed — any object
with the right attributes works, which is also how they are unit-tested.

A Feast repo would configure:

    offline_store:
        type: feast_ibm_spark.feast_adapter.SparkFeastOfflineStore
        spark_master: local[*]

replacing the reference's api_key / instance_crn / target_cos_url block
(reference ``:83-93``).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import SparkSession

from .operators.pit_join import FeatureViewSpec
from .retrieval import SparkRetrievalJob
from .session import get_spark
from .sources.data_source import SparkDataSource
from .store import SparkOfflineStore


def _spark_from_config(config) -> SparkSession:
    """Build the session from a RepoConfig-ish object. Recognized offline
    store options (all optional): ``spark_master``, ``spark_conf`` (dict),
    ``shuffle_partitions``."""
    oc = getattr(config, "offline_store", None) or config
    return get_spark(
        app_name="feast-ibm-spark",
        master=getattr(oc, "spark_master", None),
        shuffle_partitions=getattr(oc, "shuffle_partitions", None),
        extra_conf=getattr(oc, "spark_conf", None) or {},
    )


def _source_to_engine(ds) -> SparkDataSource:
    """Map a Feast DataSource (or any duck with the reference's
    ``DataEngineDataSource`` fields, reference ``:103-163``) to the
    engine's source."""
    if isinstance(ds, SparkDataSource):
        return ds
    return SparkDataSource(
        table=getattr(ds, "table", None),
        query=getattr(ds, "query", None),
        path=getattr(ds, "path", None),
        format=getattr(ds, "cos_type", None) or getattr(ds, "format", None) or "parquet",
        name=getattr(ds, "name", None),
        timestamp_field=getattr(ds, "timestamp_field", None),
        created_timestamp_column=getattr(ds, "created_timestamp_column", None) or None,
        field_mapping=dict(getattr(ds, "field_mapping", None) or {}),
    )


def _join_keys_of(view, entities_by_name: dict | None = None) -> list[str]:
    """Join keys of a FeatureView: prefer modern ``entity_columns``; fall
    back to resolving ``entities`` (names) through the registry dict the
    caller passes (the reference resolves via registry at ``:386-392``)."""
    cols = getattr(view, "entity_columns", None)
    if cols:
        return [getattr(c, "name", c) for c in cols]
    keys: list[str] = []
    for ent in getattr(view, "entities", []) or []:
        name = getattr(ent, "name", ent)
        resolved = (entities_by_name or {}).get(name)
        if resolved is not None:
            jk = getattr(resolved, "join_key", None) or getattr(
                resolved, "join_keys", [name]
            )
            keys.extend(jk if isinstance(jk, list) else [jk])
        else:
            keys.append(name)
    return keys


def _view_to_spec(
    spark: SparkSession, view, entities_by_name: dict | None = None
) -> FeatureViewSpec:
    """FeatureView -> engine spec (the same fields the reference extracts
    from each view when rendering its template, reference ``:394-400``)."""
    src = _source_to_engine(getattr(view, "batch_source", None) or view.source)
    ttl = getattr(view, "ttl", None)
    ttl_seconds = int(ttl.total_seconds()) if ttl else 0
    features = [
        getattr(f, "name", f)
        for f in (getattr(view, "features", None) or getattr(view, "schema", []))
    ]
    return FeatureViewSpec(
        name=view.name,
        source=src.load(spark),
        join_keys=_join_keys_of(view, entities_by_name),
        features=features,
        timestamp_field=src.timestamp_field or "event_timestamp",
        created_timestamp_column=src.created_timestamp_column,
        ttl_seconds=ttl_seconds,
        field_mapping={},  # already applied by SparkDataSource.load
    )


class SparkFeastOfflineStore:
    """Feast-0.36-shaped OfflineStore backed by the in-process engine."""

    @staticmethod
    def get_historical_features(
        config,
        feature_views: list,
        feature_refs: list[str],
        entity_df,
        registry=None,
        project: str | None = None,
        full_feature_names: bool = False,
    ) -> SparkRetrievalJob:
        spark = _spark_from_config(config)
        entities_by_name = {}
        if registry is not None and project is not None:
            try:
                entities_by_name = {
                    e.name: e for e in registry.list_entities(project)
                }
            except Exception:
                entities_by_name = {}
        specs = [
            _view_to_spec(spark, v, entities_by_name) for v in feature_views
        ]
        return SparkOfflineStore.get_historical_features(
            spark, entity_df, specs, full_feature_names=full_feature_names
        )

    @staticmethod
    def pull_latest_from_table_or_query(
        config,
        data_source,
        join_key_columns: list[str],
        feature_name_columns: list[str],
        timestamp_field: str,
        created_timestamp_column: str | None,
        start_date: datetime,
        end_date: datetime,
    ) -> SparkRetrievalJob:
        spark = _spark_from_config(config)
        return SparkOfflineStore.pull_latest_from_table_or_query(
            spark,
            _source_to_engine(data_source),
            join_key_columns,
            feature_name_columns,
            timestamp_field,
            created_timestamp_column,
            start_date,
            end_date,
        )

    @staticmethod
    def pull_all_from_table_or_query(
        config,
        data_source,
        join_key_columns: list[str],
        feature_name_columns: list[str],
        timestamp_field: str,
        start_date: datetime,
        end_date: datetime,
    ) -> SparkRetrievalJob:
        spark = _spark_from_config(config)
        return SparkOfflineStore.pull_all_from_table_or_query(
            spark,
            _source_to_engine(data_source),
            join_key_columns,
            feature_name_columns,
            timestamp_field,
            start_date,
            end_date,
        )


# ---------------------------------------------------------------------------
# Registry-grade DataSource subclass (built lazily — feast stays optional).
#
# The reference registers its source with the Feast registry as a real
# ``feast.DataSource`` subclass (``DataEngineDataSource``, reference
# ``:103-200``) so ``feast apply`` can proto-round-trip it. Feast resolves
# CUSTOM_SOURCE protos by importing ``data_source_class_type`` as a module
# path, so the class must be reachable at
# ``feast_ibm_spark.feast_adapter.FeastSparkDataSource`` — provided via
# module __getattr__ (PEP 562): building it imports feast, which is only
# ever triggered when feast itself performs the lookup.
# ---------------------------------------------------------------------------

_FEAST_DS_CLS = None
_FEAST_DS_PATH = "feast_ibm_spark.feast_adapter.FeastSparkDataSource"


def feast_data_source_class():
    """The feast-registered DataSource subclass wrapping SparkDataSource.

    Raises ImportError when feast is not installed."""
    global _FEAST_DS_CLS
    if _FEAST_DS_CLS is not None:
        return _FEAST_DS_CLS

    from feast.data_source import DataSource as _FeastDataSource

    from .types import to_feast_value_type

    class FeastSparkDataSource(_FeastDataSource):
        """Feast-facing twin of the engine's SparkDataSource (reference
        ``DataEngineDataSource``, ``:103-200``)."""

        def __init__(
            self,
            *,
            table=None,
            query=None,
            path=None,
            format="parquet",  # noqa: A002 - mirror SparkDataSource field
            name=None,
            timestamp_field=None,
            created_timestamp_column=None,
            field_mapping=None,
            description="",
            tags=None,
            owner="",
            options=None,
        ):
            self.engine_source = SparkDataSource(
                table=table,
                query=query,
                path=path,
                format=format,
                name=name,
                timestamp_field=timestamp_field,
                created_timestamp_column=created_timestamp_column,
                field_mapping=dict(field_mapping or {}),
                options=dict(options or {}),
            )
            super().__init__(
                name=self.engine_source.name,
                timestamp_field=timestamp_field,
                created_timestamp_column=created_timestamp_column or "",
                field_mapping=dict(field_mapping or {}),
                description=description,
                tags=dict(tags or {}),
                owner=owner,
            )

        # engine passthroughs -------------------------------------------------
        @property
        def table(self):
            return self.engine_source.table

        @property
        def query(self):
            return self.engine_source.query

        @property
        def path(self):
            return self.engine_source.path

        def __eq__(self, other):
            if not isinstance(other, FeastSparkDataSource):
                raise TypeError(
                    "comparisons should only involve FeastSparkDataSource "
                    "class objects"  # reference eq contract, :288-293
                )
            return self.engine_source == other.engine_source

        def __hash__(self):
            return hash(self.engine_source)

        # registry proto round-trip (reference :165-200) ---------------------
        def to_proto(self):
            proto = self.engine_source.to_proto()
            proto.data_source_class_type = _FEAST_DS_PATH
            proto.description = self.description
            proto.owner = self.owner
            for k, v in (self.tags or {}).items():
                proto.tags[k] = v
            return proto

        @staticmethod
        def from_proto(data_source):
            eng = SparkDataSource.from_proto(data_source)
            return FeastSparkDataSource(
                table=eng.table,
                query=eng.query,
                path=eng.path,
                format=eng.format,
                name=eng.name,
                timestamp_field=eng.timestamp_field,
                created_timestamp_column=eng.created_timestamp_column,
                field_mapping=dict(data_source.field_mapping),
                description=data_source.description,
                tags=dict(data_source.tags),
                owner=data_source.owner,
                options=eng.options,
            )

        # feast apply-time surface (S4/S5, reference :202-251) ---------------
        def validate(self, config):
            self.engine_source.validate(_spark_from_config(config))

        def get_table_query_string(self) -> str:
            # reference :222-226: `table` or (query); extended for paths
            if self.engine_source.table is not None:
                return f"`{self.engine_source.table}`"
            if self.engine_source.query is not None:
                return f"({self.engine_source.query})"
            return f"`{self.engine_source.path}`"

        @staticmethod
        def source_datatype_to_feast_value_type():
            return to_feast_value_type

        def get_table_column_names_and_types(self, config):
            return self.engine_source.get_table_column_names_and_types(
                _spark_from_config(config)
            )

    _FEAST_DS_CLS = FeastSparkDataSource
    return _FEAST_DS_CLS


def __getattr__(name: str):
    if name == "FeastSparkDataSource":
        return feast_data_source_class()
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
