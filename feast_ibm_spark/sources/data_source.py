"""Data sources: the engine's equivalent of ``DataEngineDataSource``.

Reference contract (``ibm_data_engine/data_engine_offline_store.py:103-163``):
a named source is exactly one of (a) a catalog *table*, (b) an inline SQL
*query*, or (c) an object-store *path* with a format in {json, csv, parquet,
orc — an engine extension past the reference cos_type set};
it carries ``timestamp_field``, optional ``created_timestamp_column`` (dedup
tiebreak) and ``field_mapping`` (source column -> feature name rename).

Spark-first re-expression: a source is a DataFrame factory —
``spark.table(name)`` / ``spark.sql(query)`` /
``spark.read.format(fmt).load(path)``. Validation (reference ``:202-220``)
and schema introspection (reference ``:228-251``) run against the live
session; unlike the reference we CAN introspect query sources
(the reference refuses at ``:240-248`` — Spark gives us
``spark.sql(q).schema`` for free, so that limitation is lifted).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..types import spark_type_to_feast_value_type

# parquet/csv/json are the reference's cos_type set (:147); orc and text
# extend it — text serves raw line-oriented data (logs) as a single
# `value` string column for downstream regex/JSON parsing.
SUPPORTED_FORMATS = ("parquet", "csv", "json", "orc", "text", "xml")


class _CustomSourceOptionsShim:
    """Duck-typed stand-in for ``DataSourceProto.CustomSourceOptions`` so
    the registry round-trip is testable without feast installed (same
    approach as feast_adapter.py)."""

    def __init__(self, configuration: bytes = b""):
        self.configuration = configuration


class _DataSourceProtoShim:
    """Duck-typed stand-in for feast's ``DataSourceProto`` message with the
    fields the reference round-trips (``data_engine_offline_store.py:165-200``)."""

    CUSTOM_SOURCE = 6  # feast.core.DataSource.SourceType.CUSTOM_SOURCE
    CustomSourceOptions = _CustomSourceOptionsShim

    def __init__(
        self,
        name: str = "",
        type: int = 0,  # noqa: A002 - proto field name
        field_mapping=None,
        timestamp_field: str = "",
        created_timestamp_column: str = "",
        custom_options=None,
    ):
        self.name = name
        self.type = type
        self.field_mapping = dict(field_mapping or {})
        self.timestamp_field = timestamp_field
        self.created_timestamp_column = created_timestamp_column
        self.custom_options = custom_options or _CustomSourceOptionsShim()


def _proto_cls():
    """The real feast proto class when feast is installed, the shim
    otherwise — callers see the identical attribute surface."""
    try:  # pragma: no cover - feast absent in the build container
        from feast.protos.feast.core.DataSource_pb2 import (
            DataSource as DataSourceProto,
        )

        return DataSourceProto
    except Exception:
        return _DataSourceProtoShim


class DataSourceValidationError(ValueError):
    pass


@dataclass(frozen=True)
class SparkDataSource:
    """Exactly one of (table, query, path) must be set.

    Mirrors the reference's three-way constructor contract including the
    "table or query or path required" error (reference ``:140-141``), the
    format validation (reference ``:147``) and name defaulting to the table
    name (reference ``:149-153``).
    """

    table: str | None = None
    query: str | None = None
    path: str | None = None
    format: str = "parquet"  # reference default cos_type="parquet" (:115,:134)
    name: str | None = None
    timestamp_field: str | None = None
    created_timestamp_column: str | None = None
    field_mapping: dict[str, str] = field(default_factory=dict)
    # reader options (csv delimiter, json multiline, ...). CSV defaults to
    # header+inferSchema so column names and types survive the round trip —
    # the remote engine the reference delegated to did its own inference.
    options: dict[str, str] = field(default_factory=dict)

    def __post_init__(self):
        n_set = sum(x is not None for x in (self.table, self.query, self.path))
        if n_set != 1:
            raise DataSourceValidationError(
                "exactly one of table, query or path is required"
            )
        if self.path is not None and self.format not in SUPPORTED_FORMATS:
            raise DataSourceValidationError(
                f"format must be one of {SUPPORTED_FORMATS}, got {self.format!r}"
            )
        if self.name is None:
            # name defaults to the table name (reference :149-153)
            object.__setattr__(self, "name", self.table or self.path or "query_source")

    # -- DataFrame factory ---------------------------------------------------
    def load(self, spark: SparkSession) -> DataFrame:
        """Produce the source DataFrame (scan operators S1-S3,
        reference ``:306-310``, ``:222-226``), with field_mapping applied."""
        df = self._load_raw(spark)
        if self.field_mapping:
            from .reader import rename_columns

            df = rename_columns(df, self.field_mapping)
        return df

    def _load_raw(self, spark: SparkSession) -> DataFrame:
        if self.table is not None:
            df = spark.table(self.table)
        elif self.query is not None:
            df = spark.sql(self.query)
        elif self.format == "parquet":
            # nanos-timestamp-safe parquet path (see sources/reader.py)
            from .reader import read_parquet

            df = read_parquet(spark, self.path)
        else:
            opts = dict(self.options)
            if self.format == "csv":
                opts.setdefault("header", "true")
                opts.setdefault("inferSchema", "true")
            df = spark.read.format(self.format).options(**opts).load(self.path)
        return df

    # -- validation (S4, reference :202-220) ---------------------------------
    def validate(self, spark: SparkSession) -> None:
        try:
            if self.table is not None:
                if not spark.catalog.tableExists(self.table):
                    raise DataSourceValidationError(f"table not found: {self.table}")
            elif self.query is not None:
                # SELECT * FROM (q) LIMIT 1 probe (reference :218)
                spark.sql(self.query).limit(1).collect()
            else:
                # existence + readability probe on the path
                self._load_raw(spark).limit(1).collect()
        except DataSourceValidationError:
            raise
        except Exception as exc:
            raise DataSourceValidationError(str(exc)) from exc

    # -- schema introspection (S5, reference :228-251) -----------------------
    def get_table_column_names_and_types(
        self, spark: SparkSession
    ) -> list[tuple[str, str]]:
        """Column names + Spark SQL type names of the RAW source (before
        field_mapping, matching the reference). Unlike the reference, query
        sources are supported (limitation at reference ``:240-248`` lifted)."""
        schema = self._load_raw(spark).schema
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    def feast_schema(self, spark: SparkSession) -> list[tuple[str, str]]:
        """(column, Feast ValueType name) pairs, via the type map in
        :mod:`feast_ibm_spark.types`."""
        return [
            (name, spark_type_to_feast_value_type(t))
            for name, t in self.get_table_column_names_and_types(spark)
        ]

    # -- registry proto round-trip (reference :165-200) ----------------------
    def to_proto(self):
        """Serialize as ``CUSTOM_SOURCE`` + JSON ``custom_options`` payload,
        the reference's registry wire format (``to_proto``, reference
        ``:184-200``). The payload carries the reference's exact keys
        (``table``/``query``/``cos_type``) plus the engine's extensions
        (``path``/``format``/``options``); a reference-era consumer reading
        only the original three keys still sees a valid source."""
        proto_cls = _proto_cls()
        config_json = json.dumps(
            {
                "table": self.table,
                "query": self.query,
                "cos_type": self.format if self.path is not None else None,
                "path": self.path,
                "format": self.format,
                "options": self.options,
            },
            sort_keys=True,
        )
        return proto_cls(
            name=self.name,
            type=proto_cls.CUSTOM_SOURCE,
            field_mapping=self.field_mapping,
            timestamp_field=self.timestamp_field or "",
            created_timestamp_column=self.created_timestamp_column or "",
            custom_options=proto_cls.CustomSourceOptions(
                configuration=bytes(config_json, encoding="utf8")
            ),
        )

    @classmethod
    def from_proto(cls, proto) -> "SparkDataSource":
        """Inverse of :meth:`to_proto` (reference ``from_proto``,
        ``:176-183``); also accepts a reference-shaped payload that has
        only ``table``/``query``/``cos_type``. Proto string fields default
        to ``""`` — mapped back to ``None`` here."""
        cfg = json.loads(str(proto.custom_options.configuration, encoding="utf8"))
        return cls(
            table=cfg.get("table"),
            query=cfg.get("query"),
            path=cfg.get("path"),
            format=cfg.get("format") or cfg.get("cos_type") or "parquet",
            name=proto.name or None,
            timestamp_field=proto.timestamp_field or None,
            created_timestamp_column=proto.created_timestamp_column or None,
            field_mapping=dict(proto.field_mapping),
            options=cfg.get("options") or {},
        )

    def __hash__(self) -> int:
        # the reference DataSource contract is hashable (pinned by its
        # tests/test_ibm_data_engine.py:87-91); the frozen dataclass's
        # generated hash would choke on the dict fields, so hash the
        # canonical JSON form instead
        return hash(self.to_json())

    # -- serialization round-trip (reference :165-200) -----------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "table": self.table,
                "query": self.query,
                "path": self.path,
                "format": self.format,
                "name": self.name,
                "timestamp_field": self.timestamp_field,
                "created_timestamp_column": self.created_timestamp_column,
                "field_mapping": self.field_mapping,
                "options": self.options,
            },
            sort_keys=True,
        )

    @classmethod
    def from_json(cls, payload: str) -> "SparkDataSource":
        d = json.loads(payload)
        return cls(
            table=d.get("table"),
            query=d.get("query"),
            path=d.get("path"),
            format=d.get("format", "parquet"),
            name=d.get("name"),
            timestamp_field=d.get("timestamp_field"),
            created_timestamp_column=d.get("created_timestamp_column"),
            field_mapping=d.get("field_mapping") or {},
            options=d.get("options") or {},
        )
